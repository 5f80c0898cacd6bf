"""e2store era-file record layer.

Format (reference docs/ERA_FILE_FORMAT.md:27-40, era_reader.py:86-127):
an 8-byte record header — 2-byte type, 4-byte LE length, 2 reserved bytes —
followed by the payload; a version record (type 'e2', length 0) leads the
file.  Era files hold CompressedSignedBeaconBlock (0x01 0x00),
CompressedBeaconState (0x02 0x00) and SlotIndex ('i2') records.

The writer exists for test-data generation; production is read-only.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from collections.abc import Iterator

from era_parser_spark.parsing import snappy
from era_parser_spark.parsing.beacon import peek_slot

TYPE_VERSION = b"e2"
TYPE_COMPRESSED_BLOCK = b"\x01\x00"
TYPE_COMPRESSED_STATE = b"\x02\x00"
TYPE_SLOT_INDEX = b"i2"

_HEADER = struct.Struct("<2sIH")  # type, length, reserved


@dataclass
class EraRecord:
    record_type: bytes
    payload: bytes
    offset: int

    @property
    def kind(self) -> str:
        return {
            TYPE_VERSION: "version",
            TYPE_COMPRESSED_BLOCK: "block",
            TYPE_COMPRESSED_STATE: "state",
            TYPE_SLOT_INDEX: "slot_index",
        }.get(self.record_type, "unknown")


@dataclass
class SlotIndex:
    """Parsed `i2` record (e2store spec; reference docs/ERA_FILE_FORMAT.md:38).

    Payload layout: start_slot i64 | offset i64 × count | count i64.  Each
    offset is relative to the *start of the index record header*; 0 marks an
    empty slot.  `offsets` here are already resolved to absolute file offsets
    of the record headers they point at (0 kept as the absent marker).
    """

    start_slot: int
    offsets: list[int]

    def entries(self) -> Iterator[tuple[int, int]]:
        for i, off in enumerate(self.offsets):
            if off:
                yield self.start_slot + i, off


def _parse_slot_index(rec: EraRecord) -> SlotIndex | None:
    p = rec.payload
    if len(p) < 24 or (len(p) - 16) % 8:
        return None
    count = struct.unpack_from("<q", p, len(p) - 8)[0]
    if count != (len(p) - 16) // 8:
        return None
    start_slot = struct.unpack_from("<q", p, 0)[0]
    rel = struct.unpack_from(f"<{count}q", p, 8)
    return SlotIndex(start_slot, [rec.offset + r if r else 0 for r in rel])


def find_block_index(data: bytes) -> SlotIndex | None:
    """Locate the block SlotIndex without decompressing anything.

    Era files end with the state index; the block index precedes it
    (reference docs/ERA_FILE_FORMAT.md:33-38).  Walk backward from the tail:
    the final i64 of any index record is its entry count, which determines
    the record's full length and therefore the previous record's end.  An
    index qualifies as the *block* index when every resolved entry points at
    a CompressedSignedBeaconBlock record header inside the file.
    """
    end = len(data)
    for _ in range(2):  # trailing state index, then block index before it
        if end < 8 + 24:
            return None
        count = struct.unpack_from("<q", data, end - 8)[0]
        if count <= 0 or count > (1 << 32):
            return None
        rec_start = end - (_HEADER.size + 16 + 8 * count)
        if rec_start < 0:
            return None
        rtype, length, _ = _HEADER.unpack_from(data, rec_start)
        if rtype != TYPE_SLOT_INDEX or length != 16 + 8 * count:
            return None
        idx = _parse_slot_index(
            EraRecord(rtype, data[rec_start + _HEADER.size : rec_start + _HEADER.size + length], rec_start)
        )
        if idx is not None and _points_at_blocks(data, idx):
            return idx
        end = rec_start
    return None


def _points_at_blocks(data: bytes, idx: SlotIndex) -> bool:
    saw_any = False
    for _, off in idx.entries():
        if off < 0 or off + _HEADER.size > len(data):
            return False
        if data[off : off + 2] != TYPE_COMPRESSED_BLOCK:
            return False
        saw_any = True
    return saw_any


def iter_records(data: bytes) -> Iterator[EraRecord]:
    pos = 0
    n = len(data)
    while pos + _HEADER.size <= n:
        rtype, length, _ = _HEADER.unpack_from(data, pos)
        payload = data[pos + _HEADER.size : pos + _HEADER.size + length]
        if len(payload) != length:
            raise ValueError(f"truncated record at offset {pos}")
        yield EraRecord(rtype, payload, pos)
        pos += _HEADER.size + length


def iter_block_payloads(
    data: bytes, slot_range: tuple[int, int] | None = None
) -> Iterator[tuple[int, bytes]]:
    """(slot, compressed_payload) for each block record, file order.

    With `slot_range=(lo, hi)` (inclusive) the SlotIndex — which the
    reference writes off as unused (docs/ERA_FILE_FORMAT.md:38: "not
    currently used") — becomes a pushdown: only the matching records are
    sliced and NOTHING ELSE is even snappy-decompressed, because the slot
    comes from the index instead of peek_slot.  Files without a readable
    index fall back to the full scan + filter.
    """
    if slot_range is not None:
        idx = find_block_index(data)
        if idx is not None:
            lo, hi = slot_range
            for slot, off in idx.entries():
                if lo <= slot <= hi:
                    rtype, length, _ = _HEADER.unpack_from(data, off)
                    if rtype == TYPE_COMPRESSED_BLOCK:
                        yield slot, data[off + _HEADER.size : off + _HEADER.size + length]
            return
    for rec in iter_records(data):
        if rec.record_type == TYPE_COMPRESSED_BLOCK:
            slot = peek_slot(snappy.decompress(rec.payload))
            if slot_range is None or slot_range[0] <= slot <= slot_range[1]:
                yield slot, rec.payload


def iter_blocks_decompressed(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """(slot, compressed_size, raw_ssz) per block record, decompressing each
    payload exactly once (the scan kernel's iterator — iter_block_payloads
    would decompress for the slot peek and hand back compressed bytes the
    parser decompresses again)."""
    for rec in iter_records(data):
        if rec.record_type == TYPE_COMPRESSED_BLOCK:
            raw = snappy.decompress(rec.payload)
            yield peek_slot(raw), len(rec.payload), raw


def era_stats(data: bytes) -> dict:
    """Record counts by kind + block slot range (reference era_reader:135-155).

    Slot min/max come from the SlotIndex when present (no decompression);
    the record walk still counts every record kind.
    """
    counts: dict[str, int] = {}
    block_offsets: list[int] = []
    for rec in iter_records(data):
        counts[rec.kind] = counts.get(rec.kind, 0) + 1
        if rec.record_type == TYPE_COMPRESSED_BLOCK:
            block_offsets.append(rec.offset)
    idx = find_block_index(data)
    if idx is not None:
        known = set(block_offsets)
        slots = [s for s, off in idx.entries() if off in known]
    else:
        slots = [
            peek_slot(snappy.decompress(rec.payload))
            for rec in iter_records(data)
            if rec.record_type == TYPE_COMPRESSED_BLOCK
        ]
    return {
        "record_counts": counts,
        "block_count": len(block_offsets),
        "min_slot": min(slots) if slots else None,
        "max_slot": max(slots) if slots else None,
    }


def _record(rtype: bytes, payload: bytes) -> bytes:
    return _HEADER.pack(rtype, len(payload), 0) + payload


def write_era(block_ssz_payloads: list[bytes], state: bytes | None = None) -> bytes:
    """Assemble an era file from raw SSZ block bytes (test-data generator).

    Each block is snappy-frame-compressed; a version record leads; an
    (unused-by-readers) slot index and optional state record follow, so the
    file exercises the scanner's skip paths like a real archive would.
    """
    out = bytearray(_record(TYPE_VERSION, b""))
    positions: list[tuple[int, int]] = []  # (slot, record-header file offset)
    for ssz in block_ssz_payloads:
        positions.append((peek_slot(ssz), len(out)))
        out += _record(TYPE_COMPRESSED_BLOCK, snappy.frame_compress(ssz))
    if state is not None:
        out += _record(TYPE_COMPRESSED_STATE, snappy.frame_compress(state))
    if positions:
        start = min(s for s, _ in positions)
        count = max(s for s, _ in positions) - start + 1
        index_start = len(out)  # offsets are relative to the index header
        rel = [0] * count
        for slot, pos in positions:
            rel[slot - start] = pos - index_start
        index = struct.pack(f"<q{count}qq", start, *rel, count)
        out += _record(TYPE_SLOT_INDEX, index)
    return bytes(out)


def validate_era(data: bytes) -> dict:
    """Strict integrity report for one era file (ops `validate` verb).

    Checks beyond era_stats: leading version record, full record-walk
    (truncation detected), per-block snappy CRC32C verification + slot
    peek, and SlotIndex consistency — every index entry must point at a
    block record whose actual slot equals the indexed slot.  Read-only,
    allocation-light; one pass over the file plus the index walk.
    """
    from era_parser_spark.parsing.beacon import peek_slot as _peek

    report = {
        "n_records": 0, "n_blocks": 0, "bad_crc": 0, "bad_slot_peek": 0,
        "truncated": False, "has_version_header": False,
        "has_block_index": False, "index_mismatches": 0,
        "min_slot": None, "max_slot": None,
    }
    slots_by_offset: dict[int, int] = {}
    try:
        for rec in iter_records(data):
            if report["n_records"] == 0:
                report["has_version_header"] = rec.record_type == TYPE_VERSION
            report["n_records"] += 1
            if rec.record_type == TYPE_COMPRESSED_BLOCK:
                report["n_blocks"] += 1
                try:
                    raw = snappy.frame_decompress(rec.payload, verify_crc=True)
                except Exception:
                    report["bad_crc"] += 1
                    continue
                try:
                    slot = _peek(raw)
                except Exception:
                    report["bad_slot_peek"] += 1
                    continue
                slots_by_offset[rec.offset] = slot
    except ValueError:
        report["truncated"] = True
    if slots_by_offset:
        report["min_slot"] = min(slots_by_offset.values())
        report["max_slot"] = max(slots_by_offset.values())
    idx = find_block_index(data)
    if idx is not None:
        report["has_block_index"] = True
        for slot, off in idx.entries():
            if slots_by_offset.get(off) != slot:
                report["index_mismatches"] += 1
    report["ok"] = bool(
        report["has_version_header"]
        and not report["truncated"]
        and report["bad_crc"] == 0
        and report["bad_slot_peek"] == 0
        and report["index_mismatches"] == 0
    )
    return report
