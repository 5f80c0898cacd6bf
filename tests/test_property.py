"""Property-based tests (Hypothesis): the SSZ codec and snappy codec must
round-trip arbitrary well-formed inputs, the generated columnar block
decoder must agree with the generic walk on mutated blocks of every fork,
and the era container must survive arbitrary block subsets.  No Spark
session needed — pure kernel.
"""

from __future__ import annotations

import functools

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from era_parser_spark.config.networks import fork_at_slot
from era_parser_spark.parsing import snappy
from era_parser_spark.parsing.arrow_direct import ColumnarBlockCollector
from era_parser_spark.parsing.beacon import decode_signed_block, encode_signed_block
from era_parser_spark.parsing.e2store import iter_block_payloads, write_era
from era_parser_spark.parsing.ssz import (
    Bitlist,
    ByteList,
    ByteVector,
    Container,
    List,
    SSZError,
    Uint,
)
from era_parser_spark.sources.era import _PARSE_OUT_ARROW
from era_parser_spark.testing.era_gen import make_block_doc


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_snappy_raw_roundtrip(blob):
    assert snappy.decompress_raw(snappy.compress_raw(blob)) == blob


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200_000))
def test_snappy_framed_roundtrip(blob):
    assert snappy.frame_decompress(snappy.frame_compress(blob), verify_crc=True) == blob


# an SSZ container mixing every variable/fixed combination the codec supports
_MIXED = Container(
    "Mixed",
    [
        ("a", Uint(64)),
        ("blob", ByteList(1 << 20)),
        ("v", ByteVector(16)),
        ("nums", List(Uint(64), 1 << 20)),
        ("bits", Bitlist(1 << 16)),
        ("nested", List(Container("Inner", [("x", Uint(32)), ("s", ByteList(64))]), 64)),
    ],
)

_hex = lambda n: st.binary(min_size=n, max_size=n).map(lambda b: "0x" + b.hex())  # noqa: E731


@settings(max_examples=200, deadline=None)
@given(
    st.fixed_dictionaries(
        {
            "a": st.integers(0, 2**64 - 1),
            "blob": st.binary(max_size=300).map(lambda b: "0x" + b.hex()),
            "v": _hex(16),
            "nums": st.lists(st.integers(0, 2**64 - 1), max_size=50),
            "bits": st.binary(min_size=1, max_size=32).map(lambda b: "0x" + b.hex()),
            "nested": st.lists(
                st.fixed_dictionaries(
                    {
                        "x": st.integers(0, 2**32 - 1),
                        "s": st.binary(max_size=40).map(lambda b: "0x" + b.hex()),
                    }
                ),
                max_size=16,
            ),
        }
    )
)
def test_ssz_mixed_container_roundtrip(doc):
    encoded = _MIXED.encode(doc)
    assert _MIXED.decode(encoded) == doc


# one gnosis slot per fork, phase0 -> electra
_FORK_SLOTS = [300, 8200, 6_500_000, 10_400_000, 14_300_000, 21_500_000]
_INCLUDES = [None, {"attestations"}, {"eth1_data", "graffiti", "randao_reveal"},
             {"execution_payload", "attester_slashings"}]


@functools.lru_cache(maxsize=None)
def _fork_blocks(slot: int) -> tuple[tuple[bytes, ...], str]:
    fork = fork_at_slot(slot, "gnosis")
    return tuple(encode_signed_block(make_block_doc(s, "gnosis"), fork) for s in range(slot, slot + 4)), fork


@st.composite
def _mutated_block(draw):
    raws, fork = _fork_blocks(draw(st.sampled_from(_FORK_SLOTS)))
    raw = bytearray(draw(st.sampled_from(raws)))
    kind = draw(st.sampled_from(["truncate", "bytes", "word", "wide_u64"]))
    if kind == "truncate":
        del raw[draw(st.integers(0, len(raw) - 1)):]
    else:
        width = {"bytes": 1, "word": 4, "wide_u64": 8}[kind]
        for _ in range(draw(st.integers(1, 3))):
            at = draw(st.integers(0, len(raw) - width))
            if kind == "wide_u64":
                value = draw(st.integers(2**63, 2**64 - 1))
            else:
                value = draw(st.integers(0, 256**width - 1))
            raw[at : at + width] = value.to_bytes(width, "little")
    return bytes(raw), fork, draw(st.sampled_from(_INCLUDES))


@settings(max_examples=300, deadline=None)
@given(_mutated_block())
def test_columnar_decoder_matches_generic_walk_on_mutated_blocks(case):
    """The generated columnar decoder raises exactly when the generic walk
    (+ the Arrow build of its document) raises, always as SSZError, and
    otherwise emits an equal Arrow row; a failed append leaves the batch
    as it was."""
    block_type = _PARSE_OUT_ARROW.field("block").type
    raw, fork, include = case
    try:
        want = pa.array([decode_signed_block(raw, fork, body_include=include)], type=block_type)
    except Exception:  # noqa: BLE001
        want = None
    base = _fork_blocks(_FORK_SLOTS[0])[0][0]
    coll = ColumnarBlockCollector(block_type, include)
    coll.append(base, "phase0")
    try:
        coll.append(raw, fork)
        raised = False
    except SSZError:
        raised = True
    got = coll.flush()
    assert raised == (want is None)
    if raised:
        assert got.equals(
            pa.array([decode_signed_block(base, "phase0", body_include=include)], type=block_type)
        )
    else:
        assert got.slice(1).equals(want)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.sampled_from([300, 8200, 6_500_000, 10_400_000, 14_300_000, 21_500_000]),
        min_size=0,
        max_size=6,
        unique=True,
    )
)
def test_era_container_roundtrip(slots):
    docs = {s: make_block_doc(s, "gnosis") for s in sorted(slots)}
    payloads = [
        encode_signed_block(d, fork_at_slot(s, "gnosis")) for s, d in sorted(docs.items())
    ]
    era = write_era(payloads)
    got = list(iter_block_payloads(era))
    assert [s for s, _ in got] == sorted(docs)
    for s, compressed in got:
        raw = snappy.decompress(compressed)
        assert decode_signed_block(raw, fork_at_slot(s, "gnosis")) == docs[s]
