"""Beacon-block SSZ schemas per fork (phase0 → electra) + block parsing.

Schemas follow the public consensus specs; the decoded dict mirrors the
Beacon API block shape (the reference's parity target — its test fixtures
are RPC-response JSON, era_parser/tests/test_data/*).

Where the reference declares fork deltas as BODY_SCHEMA constants
(era_parser/parsing/forks/{phase0..electra}.py), we build full declarative
containers; the fork lineage is expressed by list concatenation below.

Note on electra attestations: on-chain electra attestations carry a
trailing committee_bits Bitvector[64] (EIP-7549).  The reference reuses its
pre-electra attestation parser (no committee_bits); we follow the spec.
"""

from __future__ import annotations

from era_parser_spark.config.networks import fork_at_slot, slot_timestamp
from era_parser_spark.parsing import snappy
from era_parser_spark.parsing.ssz import (
    Bitlist,
    Bitvector,
    ByteList,
    ByteVector,
    Container,
    List,
    SSZError,
    Uint,
    Vector,
    read_u32,
)

U64 = Uint(64)
U256 = Uint(256)
B20 = ByteVector(20)
B32 = ByteVector(32)
B48 = ByteVector(48)
B96 = ByteVector(96)
B256 = ByteVector(256)

CHECKPOINT = Container("Checkpoint", [("epoch", U64), ("root", B32)])
ATTESTATION_DATA = Container(
    "AttestationData",
    [
        ("slot", U64),
        ("index", U64),
        ("beacon_block_root", B32),
        ("source", CHECKPOINT),
        ("target", CHECKPOINT),
    ],
)
ATTESTATION = Container(
    "Attestation",
    [("aggregation_bits", Bitlist(2048)), ("data", ATTESTATION_DATA), ("signature", B96)],
)
ATTESTATION_ELECTRA = Container(
    "AttestationElectra",
    [
        ("aggregation_bits", Bitlist(2048 * 64)),
        ("data", ATTESTATION_DATA),
        ("signature", B96),
        ("committee_bits", Bitvector(64)),
    ],
)
INDEXED_ATTESTATION = Container(
    "IndexedAttestation",
    [("attesting_indices", List(U64, 2048 * 64)), ("data", ATTESTATION_DATA), ("signature", B96)],
)
ATTESTER_SLASHING = Container(
    "AttesterSlashing",
    [("attestation_1", INDEXED_ATTESTATION), ("attestation_2", INDEXED_ATTESTATION)],
)
BEACON_BLOCK_HEADER = Container(
    "BeaconBlockHeader",
    [
        ("slot", U64),
        ("proposer_index", U64),
        ("parent_root", B32),
        ("state_root", B32),
        ("body_root", B32),
    ],
)
SIGNED_HEADER = Container(
    "SignedBeaconBlockHeader", [("message", BEACON_BLOCK_HEADER), ("signature", B96)]
)
PROPOSER_SLASHING = Container(
    "ProposerSlashing", [("signed_header_1", SIGNED_HEADER), ("signed_header_2", SIGNED_HEADER)]
)
DEPOSIT_DATA = Container(
    "DepositData",
    [("pubkey", B48), ("withdrawal_credentials", B32), ("amount", U64), ("signature", B96)],
)
DEPOSIT = Container("Deposit", [("proof", Vector(B32, 33)), ("data", DEPOSIT_DATA)])
VOLUNTARY_EXIT = Container("VoluntaryExit", [("epoch", U64), ("validator_index", U64)])
SIGNED_VOLUNTARY_EXIT = Container(
    "SignedVoluntaryExit", [("message", VOLUNTARY_EXIT), ("signature", B96)]
)
ETH1_DATA = Container(
    "Eth1Data", [("deposit_root", B32), ("deposit_count", U64), ("block_hash", B32)]
)
SYNC_AGGREGATE = Container(
    "SyncAggregate",
    [("sync_committee_bits", Bitvector(512)), ("sync_committee_signature", B96)],
)
WITHDRAWAL = Container(
    "Withdrawal",
    [("index", U64), ("validator_index", U64), ("address", B20), ("amount", U64)],
)
BLS_TO_EXECUTION_CHANGE = Container(
    "BLSToExecutionChange",
    [("validator_index", U64), ("from_bls_pubkey", B48), ("to_execution_address", B20)],
)
SIGNED_BLS_CHANGE = Container(
    "SignedBLSToExecutionChange", [("message", BLS_TO_EXECUTION_CHANGE), ("signature", B96)]
)
DEPOSIT_REQUEST = Container(
    "DepositRequest",
    [
        ("pubkey", B48),
        ("withdrawal_credentials", B32),
        ("amount", U64),
        ("signature", B96),
        ("index", U64),
    ],
)
WITHDRAWAL_REQUEST = Container(
    "WithdrawalRequest",
    [("source_address", B20), ("validator_pubkey", B48), ("amount", U64)],
)
CONSOLIDATION_REQUEST = Container(
    "ConsolidationRequest",
    [("source_address", B20), ("source_pubkey", B48), ("target_pubkey", B48)],
)
EXECUTION_REQUESTS = Container(
    "ExecutionRequests",
    [
        ("deposits", List(DEPOSIT_REQUEST, 8192)),
        ("withdrawals", List(WITHDRAWAL_REQUEST, 16)),
        ("consolidations", List(CONSOLIDATION_REQUEST, 2)),
    ],
)

_TRANSACTION = ByteList(1 << 30)

_PAYLOAD_PREFIX: list = [
    ("parent_hash", B32),
    ("fee_recipient", B20),
    ("state_root", B32),
    ("receipts_root", B32),
    ("logs_bloom", B256),
    ("prev_randao", B32),
    ("block_number", U64),
    ("gas_limit", U64),
    ("gas_used", U64),
    ("timestamp", U64),
    ("extra_data", ByteList(32)),
    ("base_fee_per_gas", U256),
    ("block_hash", B32),
    ("transactions", List(_TRANSACTION, 1 << 20)),
]

PAYLOAD_BELLATRIX = Container("ExecutionPayloadBellatrix", list(_PAYLOAD_PREFIX))
PAYLOAD_CAPELLA = Container(
    "ExecutionPayloadCapella", _PAYLOAD_PREFIX + [("withdrawals", List(WITHDRAWAL, 16))]
)
PAYLOAD_DENEB = Container(
    "ExecutionPayloadDeneb",
    _PAYLOAD_PREFIX
    + [
        ("withdrawals", List(WITHDRAWAL, 16)),
        ("blob_gas_used", U64),
        ("excess_blob_gas", U64),
    ],
)

_BODY_PREFIX: list = [
    ("randao_reveal", B96),
    ("eth1_data", ETH1_DATA),
    ("graffiti", B32),
    ("proposer_slashings", List(PROPOSER_SLASHING, 16)),
    ("attester_slashings", List(ATTESTER_SLASHING, 2)),
    ("attestations", List(ATTESTATION, 128)),
    ("deposits", List(DEPOSIT, 16)),
    ("voluntary_exits", List(SIGNED_VOLUNTARY_EXIT, 16)),
]

_SYNC = [("sync_aggregate", SYNC_AGGREGATE)]
_BLS = [("bls_to_execution_changes", List(SIGNED_BLS_CHANGE, 16))]
_BLOBS = [("blob_kzg_commitments", List(B48, 4096))]

BODY_SCHEMAS: dict[str, Container] = {
    "phase0": Container("BodyPhase0", list(_BODY_PREFIX)),
    "altair": Container("BodyAltair", _BODY_PREFIX + _SYNC),
    "bellatrix": Container(
        "BodyBellatrix", _BODY_PREFIX + _SYNC + [("execution_payload", PAYLOAD_BELLATRIX)]
    ),
    "capella": Container(
        "BodyCapella", _BODY_PREFIX + _SYNC + [("execution_payload", PAYLOAD_CAPELLA)] + _BLS
    ),
    "deneb": Container(
        "BodyDeneb", _BODY_PREFIX + _SYNC + [("execution_payload", PAYLOAD_DENEB)] + _BLS + _BLOBS
    ),
    "electra": Container(
        "BodyElectra",
        [
            ("randao_reveal", B96),
            ("eth1_data", ETH1_DATA),
            ("graffiti", B32),
            ("proposer_slashings", List(PROPOSER_SLASHING, 16)),
            ("attester_slashings", List(ATTESTER_SLASHING, 1)),
            ("attestations", List(ATTESTATION_ELECTRA, 8)),
            ("deposits", List(DEPOSIT, 16)),
            ("voluntary_exits", List(SIGNED_VOLUNTARY_EXIT, 16)),
        ]
        + _SYNC
        + [("execution_payload", PAYLOAD_DENEB)]
        + _BLS
        + _BLOBS
        + [("execution_requests", EXECUTION_REQUESTS)],
    ),
}


def block_schema(fork: str) -> Container:
    body = BODY_SCHEMAS[fork]
    block = Container(
        "BeaconBlock",
        [
            ("slot", U64),
            ("proposer_index", U64),
            ("parent_root", B32),
            ("state_root", B32),
            ("body", body),
        ],
    )
    return Container("SignedBeaconBlock", [("message", block), ("signature", B96)])


_SCHEMA_CACHE = {fork: block_schema(fork) for fork in BODY_SCHEMAS}


def peek_slot(ssz_bytes: bytes) -> int:
    """Slot without a full decode: message offset @0, slot u64 at its head."""
    off = read_u32(ssz_bytes, 0)
    if off + 8 > len(ssz_bytes):
        raise SSZError("block too short for slot peek")
    return int.from_bytes(ssz_bytes[off : off + 8], "little")


def decode_signed_block(
    ssz_bytes: bytes, fork: str, body_include: set[str] | None = None
) -> dict:
    """Decode a SignedBeaconBlock; `body_include` restricts which body
    fields are decoded (column pruning pushed into the byte layer)."""
    if body_include is None:
        return _SCHEMA_CACHE[fork].decode(ssz_bytes)
    msg_off = read_u32(ssz_bytes, 0)
    signature = B96.decode(ssz_bytes[4 : 4 + 96])
    msg = ssz_bytes[msg_off:]
    # BeaconBlock fixed part: slot(8) proposer(8) parent(32) state(32) body_off(4)
    body_off = read_u32(msg, 80)
    body = BODY_SCHEMAS[fork].decode(msg[body_off:], include=body_include)
    return {
        "message": {
            "slot": U64.decode(msg[0:8]),
            "proposer_index": U64.decode(msg[8:16]),
            "parent_root": B32.decode(msg[16:48]),
            "state_root": B32.decode(msg[48:80]),
            "body": body,
        },
        "signature": signature,
    }


def encode_signed_block(doc: dict, fork: str) -> bytes:
    """Test-only inverse: RPC-shaped dict -> SSZ bytes."""
    return _SCHEMA_CACHE[fork].encode(doc)


def parse_block(
    compressed: bytes,
    network: str = "mainnet",
    is_compressed: bool = True,
    body_include: set[str] | None = None,
) -> dict:
    """One era block record -> Beacon-API-shaped document + metadata.

    Output mirrors the reference's parse_block envelope
    (era_parser/parsing/block_parser.py:59-78): data/version/timestamp_utc
    plus compression metadata; numbers are native ints (uint256 fields are
    decimal strings), bytes are 0x-hex.

    With `body_include`, undecoded body fields are absent; the timestamp
    falls back to genesis+slot math when execution_payload is pruned (the
    two agree on every real chain — payload ts is slot wall-clock).
    """
    raw = snappy.decompress(compressed) if is_compressed else compressed
    slot = peek_slot(raw)
    fork = fork_at_slot(slot, network)
    doc = decode_signed_block(raw, fork, body_include=body_include)
    ts = derive_timestamp(doc, network)
    return {
        "data": doc,
        "version": fork,
        "timestamp_utc": ts,
        "metadata": {
            "compressed_size": len(compressed) if is_compressed else None,
            "decompressed_size": len(raw),
        },
    }


def derive_timestamp(doc: dict, network: str) -> int:
    """Epoch seconds: execution payload timestamp if >0, else genesis math
    (reference: block_parser.py:84-113)."""
    msg = doc["message"]
    payload = msg["body"].get("execution_payload")
    if payload:
        ts = int(payload.get("timestamp", 0))
        if ts > 0:
            return ts
    return slot_timestamp(int(msg["slot"]), network)


def stringify(obj):
    """Render ints as decimal strings recursively — the Beacon API wire
    convention, used for differential tests against *_rpc.json fixtures."""
    if isinstance(obj, bool):
        return obj
    if isinstance(obj, int):
        return str(obj)
    if isinstance(obj, dict):
        return {k: stringify(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [stringify(v) for v in obj]
    return obj


__all__ = [
    "BODY_SCHEMAS",
    "block_schema",
    "decode_signed_block",
    "encode_signed_block",
    "parse_block",
    "peek_slot",
    "derive_timestamp",
    "stringify",
]
