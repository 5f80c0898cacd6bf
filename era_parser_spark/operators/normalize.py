"""Normalizer: parsed-blocks DataFrame -> the 15 flat tables.

Each table is declared once, in `TABLES`: the body path its rows come
from and the columns it projects.  Its rows per block as one
array<struct> column (`Table.rows`), and from that its builder and its
row count per block, plus the body fields a pruned scan decodes for it
(`sources/era.py`), all derive from that record, so a new table is one
`TABLES` entry.  Ingest writes `rows()` of every table from one job
(`streaming/incremental.py`).

Column lists follow FIXTURES.md / the reference's extraction
(era_parser/core/processor.py:101-399); every row carries timestamp_utc
(the single partitioning column, reference README.md:228).

Everything here is Catalyst expressions, no Python.  `transform`'s
element position supplies the positional *_index columns the reference
computes with enumerate().  `participating_validators` is a real
popcount (the reference schema declares it but never fills it — SURVEY
§2.C15).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def popcount_hex(col: Column) -> Column:
    """Popcount of an 0x-hex bitfield of any width: 15-hex-digit chunks
    (60 bits, conv-safe in a signed long) -> bit_count -> sum."""
    h = F.regexp_replace(col, "^0x", "")
    n_chunks = F.ceil(F.length(h) / 15).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.bit_count(F.conv(F.substring(h, i * 15 + 1, 15), 16, 10).cast("long")),
    )
    return F.when(
        col.isNull() | (F.length(h) == 0), F.lit(None).cast("int")
    ).otherwise(F.aggregate(chunks, F.lit(0), lambda acc, x: acc + x).cast("int"))


def _fields(c: Column, *names: str, prefix: str = "") -> list[Column]:
    """Struct c's named fields, each under its own name after `prefix`."""
    return [c.getField(n).alias(prefix + n) for n in names]


@dataclass(frozen=True)
class Table:
    """One warehouse table, declared once.  Its rows come from one body
    path: `explode` names a list (one row per element, its position as a
    long in the column `index` names), `present` a struct (one row per
    block that carries it); with neither, one row per block, and `reads`
    names the body fields its columns read.  `columns(r)` lists the output
    columns in order over r, the element, the struct or the body; a string
    names a column of the blocks frame, or the index."""

    columns: Callable[[Column], list[str | Column]]
    explode: str | None = None
    index: str | None = None
    present: str | None = None
    reads: tuple[str, ...] = ()

    def rows(self) -> Column:
        """This table's rows of each block, as one array<struct> column over
        the blocks frame: one struct per list element (with its position as
        a long) for `explode`, a one-element array for a block carrying
        `present` (null otherwise), one struct per block with neither.
        `build` inlines it; ingest writes it straight to the table's files."""

        def row(r: Column, i: Column | None = None) -> Column:
            return F.struct(*[
                i.cast("long").alias(c) if isinstance(c, str) and c == self.index else c
                for c in self.columns(r)
            ])

        if self.explode is not None:
            items = F.col(f"body.{self.explode}")
            if self.index is None:
                return F.transform(items, lambda r: row(r))
            return F.transform(items, lambda r, i: row(r, i))
        if self.present is not None:
            struct = F.col(f"body.{self.present}")
            return F.when(struct.isNotNull(), F.array(row(struct)))
        return F.array(row(F.col("body")))

    def build(self, df: DataFrame) -> DataFrame:
        return df.select(F.inline(self.rows()))

    def rows_per_block(self) -> Column:
        """Rows build() emits per block, as a column over the same blocks
        frame: the size of `rows()`, 0 where it is null (size(null) is -1
        under spark.sql.legacy.sizeOfNull)."""
        return F.size(F.coalesce(self.rows(), F.array()))


def _signed_header(s: Column, i: int) -> list[Column]:
    h = s.getField(f"signed_header_{i}")
    m = h.getField("message")
    p = f"header_{i}_"
    return [
        *_fields(m, "slot", "proposer_index", "parent_root", "state_root", "body_root", prefix=p),
        *_fields(h, "signature", prefix=p),
    ]


def _attester_slashing(s: Column, i: int) -> list[Column]:
    a = s.getField(f"attestation_{i}")
    d = a.getField("data")
    p = f"att_{i}_"
    return [
        *_fields(d, "slot", prefix=p),
        d.getField("index").alias(f"{p}committee_index"),
        *_fields(d, "beacon_block_root", prefix=p),
        *_fields(d.getField("source"), "epoch", "root", prefix=f"{p}source_"),
        *_fields(d.getField("target"), "epoch", "root", prefix=f"{p}target_"),
        *_fields(a, "signature", prefix=p),
        F.to_json(a.getField("attesting_indices")).alias(f"{p}attesting_indices"),
        F.size(a.getField("attesting_indices")).alias(f"{p}validator_count"),
    ]


def _request(kind: str, fields: Callable[[Column], list[Column]]) -> Table:
    return Table(
        lambda r: ["slot", "request_index", *fields(r), "timestamp_utc"],
        explode=f"execution_requests.{kind}",
        index="request_index",
    )


TABLES: dict[str, Table] = {
    "blocks": Table(
        lambda b: [
            "slot",
            "proposer_index",
            "parent_root",
            "state_root",
            "signature",
            "version",
            "timestamp_utc",
            *_fields(b, "randao_reveal", "graffiti"),
            *_fields(
                b.getField("eth1_data"),
                "deposit_root",
                "deposit_count",
                "block_hash",
                prefix="eth1_",
            ),
        ],
        reads=("eth1_data", "graffiti", "randao_reveal"),
    ),
    "sync_aggregates": Table(
        lambda s: [
            "slot",
            *_fields(s, "sync_committee_bits", "sync_committee_signature"),
            "timestamp_utc",
            popcount_hex(s.getField("sync_committee_bits")).alias("participating_validators"),
        ],
        present="sync_aggregate",
    ),
    "execution_payloads": Table(
        lambda p: [
            "slot",
            *_fields(p, "parent_hash", "fee_recipient", "state_root", "receipts_root"),
            *_fields(p, "logs_bloom", "prev_randao", "block_number", "gas_limit", "gas_used"),
            "timestamp_utc",
            *_fields(p, "base_fee_per_gas", "block_hash"),
            F.coalesce(p.getField("blob_gas_used"), F.lit(0)).alias("blob_gas_used"),
            F.coalesce(p.getField("excess_blob_gas"), F.lit(0)).alias("excess_blob_gas"),
            *_fields(p, "extra_data"),
        ],
        present="execution_payload",
    ),
    # `transaction_hash` carries the raw tx bytes as 0x-hex, matching the
    # reference's (documented) misnomer — processor.py:189-202.
    "transactions": Table(
        lambda tx: [
            "slot",
            *_fields(F.col("body.execution_payload"), "block_number", "block_hash"),
            "transaction_index",
            tx.alias("transaction_hash"),
            *_fields(
                F.col("body.execution_payload"),
                "fee_recipient",
                "gas_limit",
                "gas_used",
                "base_fee_per_gas",
            ),
            "timestamp_utc",
        ],
        explode="execution_payload.transactions",
        index="transaction_index",
    ),
    "withdrawals": Table(
        lambda w: [
            "slot",
            *_fields(F.col("body.execution_payload"), "block_number", "block_hash"),
            w.getField("index").alias("withdrawal_index"),
            *_fields(w, "validator_index", "address", "amount"),
            "timestamp_utc",
        ],
        explode="execution_payload.withdrawals",
    ),
    "attestations": Table(
        lambda a: [
            "slot",
            "attestation_index",
            *_fields(a, "aggregation_bits", "signature"),
            *_fields(a.getField("data"), "slot", prefix="attestation_"),
            a.getField("data").getField("index").alias("committee_index"),
            *_fields(a.getField("data"), "beacon_block_root"),
            *_fields(a.getField("data").getField("source"), "epoch", "root", prefix="source_"),
            *_fields(a.getField("data").getField("target"), "epoch", "root", prefix="target_"),
            "timestamp_utc",
        ],
        explode="attestations",
        index="attestation_index",
    ),
    "deposits": Table(
        lambda d: [
            "slot",
            "deposit_index",
            *_fields(d.getField("data"), "pubkey", "withdrawal_credentials", "amount", "signature"),
            F.to_json(d.getField("proof")).alias("proof"),
            "timestamp_utc",
        ],
        explode="deposits",
        index="deposit_index",
    ),
    "voluntary_exits": Table(
        lambda v: [
            "slot",
            "exit_index",
            *_fields(v, "signature"),
            *_fields(v.getField("message"), "epoch", "validator_index"),
            "timestamp_utc",
        ],
        explode="voluntary_exits",
        index="exit_index",
    ),
    "proposer_slashings": Table(
        lambda s: [
            "slot",
            "slashing_index",
            *_signed_header(s, 1),
            *_signed_header(s, 2),
            "timestamp_utc",
        ],
        explode="proposer_slashings",
        index="slashing_index",
    ),
    "attester_slashings": Table(
        lambda s: [
            "slot",
            "slashing_index",
            *_attester_slashing(s, 1),
            *_attester_slashing(s, 2),
            "timestamp_utc",
            # derived: |distinct(union of both index lists)| — processor.py:302-304
            F.size(
                F.array_distinct(
                    F.concat(
                        s.getField("attestation_1").getField("attesting_indices"),
                        s.getField("attestation_2").getField("attesting_indices"),
                    )
                )
            ).alias("total_slashed_validators"),
        ],
        explode="attester_slashings",
        index="slashing_index",
    ),
    "bls_changes": Table(
        lambda c: [
            "slot",
            "change_index",
            *_fields(c, "signature"),
            *_fields(
                c.getField("message"),
                "validator_index",
                "from_bls_pubkey",
                "to_execution_address",
            ),
            "timestamp_utc",
        ],
        explode="bls_to_execution_changes",
        index="change_index",
    ),
    "blob_commitments": Table(
        lambda c: ["slot", "commitment_index", c.alias("commitment"), "timestamp_utc"],
        explode="blob_kzg_commitments",
        index="commitment_index",
    ),
    "deposit_requests": _request(
        "deposits",
        lambda r: [
            *_fields(r, "pubkey", "withdrawal_credentials", "amount", "signature"),
            r.getField("index").alias("deposit_request_index"),
        ],
    ),
    "withdrawal_requests": _request(
        "withdrawals", lambda r: _fields(r, "source_address", "validator_pubkey", "amount")
    ),
    "consolidation_requests": _request(
        "consolidations", lambda r: _fields(r, "source_address", "source_pubkey", "target_pubkey")
    ),
}


def body_fields(tables: Iterable[str]) -> set[str]:
    """The body fields a scan must decode to build the named tables: the
    first segment of each table's path, or the fields it `reads`."""
    fields = set()
    for t in map(TABLES.__getitem__, tables):
        path = t.explode or t.present
        fields |= {path.split(".")[0]} if path else set(t.reads)
    return fields


def all_tables(df: DataFrame, tables: list[str] | None = None) -> dict[str, DataFrame]:
    """The full normalized model from one parsed-blocks DataFrame.

    The input is computed once per scan; each table is a projection/explode
    over it — cache df (or persist the parsed parquet) when materializing
    several tables in one job.
    """
    return {name: TABLES[name].build(df) for name in tables or TABLES}


def wide_blocks_table(df: DataFrame) -> DataFrame:
    """C14: 1-row-per-block wide table — header + payload flatten + list
    counts + nested lists as JSON strings (export/base.py:59-153)."""
    p = F.col("body.execution_payload")
    counted = [
        "attestations",
        "deposits",
        "proposer_slashings",
        "attester_slashings",
        "voluntary_exits",
        "bls_changes",
        "blob_commitments",
    ]
    return df.select(
        *TABLES["blocks"].columns(F.col("body")),
        *[TABLES[t].rows_per_block().alias(f"{t[:-1]}_count") for t in counted],
        F.to_json(F.col("body.attestations")).alias("attestations_json"),
        F.to_json(p.getField("withdrawals")).alias("withdrawals_json"),
        p.getField("block_number").alias("execution_block_number"),
        p.getField("timestamp").alias("execution_timestamp"),
        "compressed_size",
        "decompressed_size",
    )
