"""Normalizer: parsed-blocks DataFrame -> the 15 flat tables.

Column lists follow FIXTURES.md / the reference's extraction
(era_parser/core/processor.py:101-399); every row carries timestamp_utc
(the single partitioning column, reference README.md:228).

Everything here is select/filter/posexplode — pure Catalyst, no Python.
posexplode supplies the positional *_index columns the reference computes
with enumerate().  `participating_validators` is a real popcount (the
reference schema declares it but never fills it — SURVEY §2.C15).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CTX = ["slot", "timestamp_utc"]


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


def blocks_table(df: DataFrame) -> DataFrame:
    return df.select(
        "slot",
        "proposer_index",
        "parent_root",
        "state_root",
        "signature",
        "version",
        "timestamp_utc",
        F.col("body.randao_reveal").alias("randao_reveal"),
        F.col("body.graffiti").alias("graffiti"),
        F.col("body.eth1_data.deposit_root").alias("eth1_deposit_root"),
        F.col("body.eth1_data.deposit_count").alias("eth1_deposit_count"),
        F.col("body.eth1_data.block_hash").alias("eth1_block_hash"),
    )


def sync_aggregates_table(df: DataFrame) -> DataFrame:
    sa = F.col("body.sync_aggregate")
    return df.filter(sa.isNotNull()).select(
        "slot",
        sa.getField("sync_committee_bits").alias("sync_committee_bits"),
        sa.getField("sync_committee_signature").alias("sync_committee_signature"),
        "timestamp_utc",
    ).withColumn("participating_validators", popcount_hex(F.col("sync_committee_bits")))


def execution_payloads_table(df: DataFrame) -> DataFrame:
    p = F.col("body.execution_payload")
    return df.filter(p.isNotNull()).select(
        "slot",
        p.getField("parent_hash").alias("parent_hash"),
        p.getField("fee_recipient").alias("fee_recipient"),
        p.getField("state_root").alias("state_root"),
        p.getField("receipts_root").alias("receipts_root"),
        p.getField("logs_bloom").alias("logs_bloom"),
        p.getField("prev_randao").alias("prev_randao"),
        p.getField("block_number").alias("block_number"),
        p.getField("gas_limit").alias("gas_limit"),
        p.getField("gas_used").alias("gas_used"),
        "timestamp_utc",
        p.getField("base_fee_per_gas").alias("base_fee_per_gas"),
        p.getField("block_hash").alias("block_hash"),
        F.coalesce(p.getField("blob_gas_used"), F.lit(0)).alias("blob_gas_used"),
        F.coalesce(p.getField("excess_blob_gas"), F.lit(0)).alias("excess_blob_gas"),
        p.getField("extra_data").alias("extra_data"),
    )


def transactions_table(df: DataFrame) -> DataFrame:
    p = F.col("body.execution_payload")
    ex = df.filter(p.isNotNull()).select(
        "slot",
        "timestamp_utc",
        p.getField("block_number").alias("block_number"),
        p.getField("block_hash").alias("block_hash"),
        p.getField("fee_recipient").alias("fee_recipient"),
        p.getField("gas_limit").alias("gas_limit"),
        p.getField("gas_used").alias("gas_used"),
        p.getField("base_fee_per_gas").alias("base_fee_per_gas"),
        F.posexplode(p.getField("transactions")).alias("transaction_index", "tx"),
    )
    # `transaction_hash` carries the raw tx bytes as 0x-hex, matching the
    # reference's (documented) misnomer — processor.py:189-202.
    return ex.select(
        "slot",
        "block_number",
        "block_hash",
        F.col("transaction_index").cast("long").alias("transaction_index"),
        F.col("tx").alias("transaction_hash"),
        "fee_recipient",
        "gas_limit",
        "gas_used",
        "base_fee_per_gas",
        "timestamp_utc",
    )


def withdrawals_table(df: DataFrame) -> DataFrame:
    p = F.col("body.execution_payload")
    ex = df.filter(p.isNotNull()).select(
        "slot",
        "timestamp_utc",
        p.getField("block_number").alias("block_number"),
        p.getField("block_hash").alias("block_hash"),
        F.explode(p.getField("withdrawals")).alias("w"),
    )
    return ex.select(
        "slot",
        "block_number",
        "block_hash",
        F.col("w.index").alias("withdrawal_index"),
        F.col("w.validator_index").alias("validator_index"),
        F.col("w.address").alias("address"),
        F.col("w.amount").alias("amount"),
        "timestamp_utc",
    )


def attestations_table(df: DataFrame) -> DataFrame:
    ex = df.select(
        "slot",
        "timestamp_utc",
        F.posexplode(F.col("body.attestations")).alias("attestation_index", "a"),
    )
    return ex.select(
        "slot",
        F.col("attestation_index").cast("long").alias("attestation_index"),
        F.col("a.aggregation_bits").alias("aggregation_bits"),
        F.col("a.signature").alias("signature"),
        F.col("a.data.slot").alias("attestation_slot"),
        F.col("a.data.index").alias("committee_index"),
        F.col("a.data.beacon_block_root").alias("beacon_block_root"),
        F.col("a.data.source.epoch").alias("source_epoch"),
        F.col("a.data.source.root").alias("source_root"),
        F.col("a.data.target.epoch").alias("target_epoch"),
        F.col("a.data.target.root").alias("target_root"),
        "timestamp_utc",
    )


def deposits_table(df: DataFrame) -> DataFrame:
    ex = df.select(
        "slot", "timestamp_utc", F.posexplode(F.col("body.deposits")).alias("deposit_index", "d")
    )
    return ex.select(
        "slot",
        F.col("deposit_index").cast("long").alias("deposit_index"),
        F.col("d.data.pubkey").alias("pubkey"),
        F.col("d.data.withdrawal_credentials").alias("withdrawal_credentials"),
        F.col("d.data.amount").alias("amount"),
        F.col("d.data.signature").alias("signature"),
        F.to_json(F.col("d.proof")).alias("proof"),
        "timestamp_utc",
    )


def voluntary_exits_table(df: DataFrame) -> DataFrame:
    ex = df.select(
        "slot", "timestamp_utc", F.posexplode(F.col("body.voluntary_exits")).alias("exit_index", "v")
    )
    return ex.select(
        "slot",
        F.col("exit_index").cast("long").alias("exit_index"),
        F.col("v.signature").alias("signature"),
        F.col("v.message.epoch").alias("epoch"),
        F.col("v.message.validator_index").alias("validator_index"),
        "timestamp_utc",
    )


def proposer_slashings_table(df: DataFrame) -> DataFrame:
    ex = df.select(
        "slot",
        "timestamp_utc",
        F.posexplode(F.col("body.proposer_slashings")).alias("slashing_index", "s"),
    )
    cols = ["slot", F.col("slashing_index").cast("long").alias("slashing_index")]
    for i in (1, 2):
        h = F.col(f"s.signed_header_{i}")
        cols += [
            h.getField("message").getField("slot").alias(f"header_{i}_slot"),
            h.getField("message").getField("proposer_index").alias(f"header_{i}_proposer_index"),
            h.getField("message").getField("parent_root").alias(f"header_{i}_parent_root"),
            h.getField("message").getField("state_root").alias(f"header_{i}_state_root"),
            h.getField("message").getField("body_root").alias(f"header_{i}_body_root"),
            h.getField("signature").alias(f"header_{i}_signature"),
        ]
    return ex.select(*cols, "timestamp_utc")


def attester_slashings_table(df: DataFrame) -> DataFrame:
    ex = df.select(
        "slot",
        "timestamp_utc",
        F.posexplode(F.col("body.attester_slashings")).alias("slashing_index", "s"),
    )
    cols = ["slot", F.col("slashing_index").cast("long").alias("slashing_index")]
    for i in (1, 2):
        a = F.col(f"s.attestation_{i}")
        d = a.getField("data")
        cols += [
            d.getField("slot").alias(f"att_{i}_slot"),
            d.getField("index").alias(f"att_{i}_committee_index"),
            d.getField("beacon_block_root").alias(f"att_{i}_beacon_block_root"),
            d.getField("source").getField("epoch").alias(f"att_{i}_source_epoch"),
            d.getField("source").getField("root").alias(f"att_{i}_source_root"),
            d.getField("target").getField("epoch").alias(f"att_{i}_target_epoch"),
            d.getField("target").getField("root").alias(f"att_{i}_target_root"),
            a.getField("signature").alias(f"att_{i}_signature"),
            F.to_json(a.getField("attesting_indices")).alias(f"att_{i}_attesting_indices"),
            F.size(a.getField("attesting_indices")).alias(f"att_{i}_validator_count"),
        ]
    # derived: |distinct(union of both index lists)| — processor.py:302-304
    total = F.size(
        F.array_distinct(
            F.concat(
                F.col("s.attestation_1.attesting_indices"),
                F.col("s.attestation_2.attesting_indices"),
            )
        )
    ).alias("total_slashed_validators")
    return ex.select(*cols, "timestamp_utc", total)


def bls_changes_table(df: DataFrame) -> DataFrame:
    ex = df.select(
        "slot",
        "timestamp_utc",
        F.posexplode(F.col("body.bls_to_execution_changes")).alias("change_index", "c"),
    )
    return ex.select(
        "slot",
        F.col("change_index").cast("long").alias("change_index"),
        F.col("c.signature").alias("signature"),
        F.col("c.message.validator_index").alias("validator_index"),
        F.col("c.message.from_bls_pubkey").alias("from_bls_pubkey"),
        F.col("c.message.to_execution_address").alias("to_execution_address"),
        "timestamp_utc",
    )


def blob_commitments_table(df: DataFrame) -> DataFrame:
    ex = df.select(
        "slot",
        "timestamp_utc",
        F.posexplode(F.col("body.blob_kzg_commitments")).alias("commitment_index", "commitment"),
    )
    return ex.select(
        "slot",
        F.col("commitment_index").cast("long").alias("commitment_index"),
        "commitment",
        "timestamp_utc",
    )


def _requests_table(df: DataFrame, kind: str, fields: list[tuple[str, str]]) -> DataFrame:
    ex = df.select(
        "slot",
        "timestamp_utc",
        F.posexplode(F.col(f"body.execution_requests.{kind}")).alias("request_index", "r"),
    )
    cols = [
        "slot",
        F.col("request_index").cast("long").alias("request_index"),
        *[F.col(f"r.{src}").alias(dst) for src, dst in fields],
    ]
    return ex.select(*cols, "timestamp_utc")


def deposit_requests_table(df: DataFrame) -> DataFrame:
    return _requests_table(
        df,
        "deposits",
        [
            ("pubkey", "pubkey"),
            ("withdrawal_credentials", "withdrawal_credentials"),
            ("amount", "amount"),
            ("signature", "signature"),
            ("index", "deposit_request_index"),
        ],
    )


def withdrawal_requests_table(df: DataFrame) -> DataFrame:
    return _requests_table(
        df,
        "withdrawals",
        [
            ("source_address", "source_address"),
            ("validator_pubkey", "validator_pubkey"),
            ("amount", "amount"),
        ],
    )


def consolidation_requests_table(df: DataFrame) -> DataFrame:
    return _requests_table(
        df,
        "consolidations",
        [
            ("source_address", "source_address"),
            ("source_pubkey", "source_pubkey"),
            ("target_pubkey", "target_pubkey"),
        ],
    )


TABLE_BUILDERS = {
    "blocks": blocks_table,
    "sync_aggregates": sync_aggregates_table,
    "execution_payloads": execution_payloads_table,
    "transactions": transactions_table,
    "withdrawals": withdrawals_table,
    "attestations": attestations_table,
    "deposits": deposits_table,
    "voluntary_exits": voluntary_exits_table,
    "proposer_slashings": proposer_slashings_table,
    "attester_slashings": attester_slashings_table,
    "bls_changes": bls_changes_table,
    "blob_commitments": blob_commitments_table,
    "deposit_requests": deposit_requests_table,
    "withdrawal_requests": withdrawal_requests_table,
    "consolidation_requests": consolidation_requests_table,
}


def _present(c: Column) -> Column:
    return F.when(c.isNotNull(), 1).otherwise(0)


def _length(c: Column) -> Column:
    # explode/posexplode emit nothing for a null list; size(null) is -1
    # under spark.sql.legacy.sizeOfNull, so test for null explicitly
    return F.when(c.isNotNull(), F.size(c)).otherwise(0)


# Rows each TABLE_BUILDERS[t] emits per parsed block, as a column over the
# same blocks frame: 1, a null test for a builder that filters, or the
# length of the list it explodes.  Summed per era it equals the built
# table's row count per era (differential-tested), so one aggregate counts
# every table without running the builders.
ROWS_PER_BLOCK: dict[str, Callable[[], Column]] = {
    "blocks": lambda: F.lit(1),
    "sync_aggregates": lambda: _present(F.col("body.sync_aggregate")),
    "execution_payloads": lambda: _present(F.col("body.execution_payload")),
    "transactions": lambda: _length(F.col("body.execution_payload.transactions")),
    "withdrawals": lambda: _length(F.col("body.execution_payload.withdrawals")),
    "attestations": lambda: _length(F.col("body.attestations")),
    "deposits": lambda: _length(F.col("body.deposits")),
    "voluntary_exits": lambda: _length(F.col("body.voluntary_exits")),
    "proposer_slashings": lambda: _length(F.col("body.proposer_slashings")),
    "attester_slashings": lambda: _length(F.col("body.attester_slashings")),
    "bls_changes": lambda: _length(F.col("body.bls_to_execution_changes")),
    "blob_commitments": lambda: _length(F.col("body.blob_kzg_commitments")),
    "deposit_requests": lambda: _length(F.col("body.execution_requests.deposits")),
    "withdrawal_requests": lambda: _length(F.col("body.execution_requests.withdrawals")),
    "consolidation_requests": lambda: _length(
        F.col("body.execution_requests.consolidations")
    ),
}


def all_tables(df: DataFrame, tables: list[str] | None = None) -> dict[str, DataFrame]:
    """The full normalized model from one parsed-blocks DataFrame.

    The input is computed once per scan; each table is a projection/explode
    over it — cache df (or persist the parsed parquet) when materializing
    several tables in one job.
    """
    names = tables or list(TABLE_BUILDERS)
    return {name: TABLE_BUILDERS[name](df) for name in names}


def wide_blocks_table(df: DataFrame) -> DataFrame:
    """C14: 1-row-per-block wide table — header + payload flatten + list
    counts + nested lists as JSON strings (export/base.py:59-153)."""
    p = F.col("body.execution_payload")
    counts = [
        F.size(F.coalesce(F.col(f"body.{f}"), F.array())).alias(f"{name}_count")
        for f, name in [
            ("attestations", "attestation"),
            ("deposits", "deposit"),
            ("proposer_slashings", "proposer_slashing"),
            ("attester_slashings", "attester_slashing"),
            ("voluntary_exits", "voluntary_exit"),
            ("bls_to_execution_changes", "bls_change"),
            ("blob_kzg_commitments", "blob_commitment"),
        ]
    ]
    return df.select(
        "slot",
        "proposer_index",
        "parent_root",
        "state_root",
        "signature",
        "version",
        "timestamp_utc",
        F.col("body.randao_reveal").alias("randao_reveal"),
        F.col("body.graffiti").alias("graffiti"),
        F.col("body.eth1_data.deposit_root").alias("eth1_deposit_root"),
        F.col("body.eth1_data.deposit_count").alias("eth1_deposit_count"),
        F.col("body.eth1_data.block_hash").alias("eth1_block_hash"),
        *counts,
        F.to_json(F.col("body.attestations")).alias("attestations_json"),
        F.to_json(p.getField("withdrawals")).alias("withdrawals_json"),
        p.getField("block_number").alias("execution_block_number"),
        p.getField("timestamp").alias("execution_timestamp"),
        "compressed_size",
        "decompressed_size",
    )
