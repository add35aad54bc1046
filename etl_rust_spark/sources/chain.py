"""Pluggable blockchain-config protocol + a synthetic deterministic chain.

The reference's extension contract is a per-chain module supplying
``extract_range`` / ``extract_txs`` / ``create_test_data`` /
``subscribe_and_extract`` plus proto transformations and a table list
(/root/reference/src/example_config/mod.rs:7-35, src/output/publish.rs:10-11).
The Spark-native equivalent is :class:`ChainConfig`: ``fetch`` produces a
raw-response DataFrame for a set of block indices, ``transform`` fans it
out into per-table DataFrames (SURVEY §2.7).

:class:`SyntheticChain` is the test double for the RPC node: a fully
deterministic function block_index → JSON-RPC-shaped response, generated
*distributedly* with built-in expressions (no driver loop, no Python
UDF) so fixtures scale to millions of blocks.  Schemas follow
FIXTURES.md §4, including the power-law hot keys (~30% of instructions
hit one program, ~30% of transfers one mint) that make skew handling
testable.

A real chain config implements ``fetch`` with ``mapPartitions`` doing
batched HTTP JSON-RPC (executor-local client, app-level backoff —
S-04/S-07) and reuses this module's ``transform`` machinery; the
boundary was drawn exactly so that everything AFTER the network hop is
shared, testable code.
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["ChainConfig", "SyntheticChain", "RESPONSE_SCHEMA", "TABLE_NAMES"]

TABLE_NAMES: tuple[str, ...] = (
    "blocks",
    "transactions",
    "instructions",
    "accounts",
    "tokens",
    "token_transfers",
    "block_rewards",
)

# Typed schema for the raw node response — the analog of the reference's
# typed serde structs at the deserialization boundary (X-01,
# /root/reference/docs/deserialization.md:3-7): explicit schema, never
# inference.
RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("blockhash", T.StringType()),
        T.StructField("previousBlockhash", T.StringType()),
        T.StructField("blockTimeMs", T.LongType()),
        T.StructField("leader", T.StringType()),
        T.StructField(
            "transactions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("hash", T.StringType()),
                        T.StructField("signer", T.StringType()),
                        T.StructField("fee", T.LongType()),
                        T.StructField("status", T.StringType()),
                        T.StructField(
                            "instructions",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("program", T.StringType()),
                                        T.StructField("data_b64", T.StringType()),
                                        T.StructField("accounts", T.ArrayType(T.StringType())),
                                    ]
                                )
                            ),
                        ),
                        T.StructField(
                            "tokenTransfers",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("mint", T.StringType()),
                                        T.StructField("from_addr", T.StringType()),
                                        T.StructField("to_addr", T.StringType()),
                                        T.StructField("amount", T.LongType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
        T.StructField(
            "rewards",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("pubkey", T.StringType()),
                        T.StructField("lamports", T.LongType()),
                        T.StructField("rewardType", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


class ChainConfig(Protocol):
    """Per-chain plugin contract (SURVEY §2.7).

    ``entity_keys`` names the *entity* (first-seen dimension) tables and
    their natural key: these derive "first seen at" from whatever range
    a run covers, so the pipeline upserts them via
    :func:`etl_rust_spark.etl.writer.merge_entity_table` instead of the
    bucket-overwrite fact path (otherwise a key first seen in an earlier
    run would get a second row — ADVICE r1).
    """

    name: str
    entity_keys: dict[str, str]

    def fetch(self, blocks: DataFrame) -> DataFrame:
        """blocks(block_index) → raw(block_index, response_json)."""
        ...

    def transform(self, raw: DataFrame) -> dict[str, DataFrame]:
        """raw → one DataFrame per table in :data:`TABLE_NAMES` (X-02)."""
        ...


def _ph(expr: str, mod: int) -> str:
    """Positive deterministic hash of an expression, < mod (JVM xxhash64)."""
    return f"pmod(xxhash64({expr}), {mod})"


class SyntheticChain:
    """Deterministic synthetic chain: block_index fully determines content.

    ``genesis_ms`` + ``block_ms`` set the timestamp cadence (default
    2024-01-01 + 400 ms/block, FIXTURES §4); hot-key skew: instruction
    programs land on ``prog_hot`` ~30% of the time, transfer mints on
    ``mint_hot`` ~30%.
    """

    name = "synthetic"
    entity_keys = {"accounts": "pubkey", "tokens": "mint"}

    def __init__(self, genesis_ms: int = 1_704_067_200_000, block_ms: int = 400):
        self.genesis_ms = genesis_ms
        self.block_ms = block_ms

    # -- extraction (stands in for S-04 call_getBlock) ----------------------

    def fetch(self, blocks: DataFrame) -> DataFrame:
        bi = "block_index"
        tx_struct = f"""
        transform(sequence(0, CAST({_ph(f"concat('n', {bi})", 3)} AS INT)), j ->
          named_struct(
            'hash', md5(concat('tx', {bi}, '_', j)),
            'signer', concat('signer', {_ph(f"concat('sg', {bi}, '_', j)", 100)}),
            'fee', 5000 + {_ph(f"concat('fee', {bi}, '_', j)", 1000)},
            'status', CASE WHEN {_ph(f"concat('st', {bi}, '_', j)", 10)} < 9 THEN 'success' ELSE 'fail' END,
            'instructions', transform(sequence(0, CAST({_ph(f"concat('ni', {bi}, '_', j)", 2)} AS INT)), i ->
              named_struct(
                'program', CASE WHEN {_ph(f"concat('pg', {bi}, '_', j, '_', i)", 100)} < 30
                                THEN 'prog_hot'
                                ELSE concat('prog', {_ph(f"concat('pg', {bi}, '_', j, '_', i)", 50)}) END,
                'data_b64', base64(CAST(md5(concat('dat', {bi}, '_', j, '_', i)) AS BINARY)),
                'accounts', array(
                  concat('acct', {_ph(f"concat('a0', {bi}, '_', j, '_', i)", 200)}),
                  concat('acct', {_ph(f"concat('a1', {bi}, '_', j, '_', i)", 200)}))
              )),
            'tokenTransfers', CASE WHEN {_ph(f"concat('tt', {bi}, '_', j)", 2)} = 0 THEN array()
              ELSE array(named_struct(
                'mint', CASE WHEN {_ph(f"concat('mn', {bi}, '_', j)", 100)} < 30
                             THEN 'mint_hot'
                             ELSE concat('mint', {_ph(f"concat('mn', {bi}, '_', j)", 40)}) END,
                'from_addr', concat('acct', {_ph(f"concat('fr', {bi}, '_', j)", 200)}),
                'to_addr', concat('acct', {_ph(f"concat('to', {bi}, '_', j)", 200)}),
                'amount', 1 + {_ph(f"concat('am', {bi}, '_', j)", 1000000)})) END
          ))
        """
        resp = f"""
        to_json(named_struct(
          'blockhash', md5(concat('bh', {bi})),
          'previousBlockhash', CASE WHEN {bi} = 0 THEN repeat('0', 32) ELSE md5(concat('bh', {bi} - 1)) END,
          'blockTimeMs', {self.genesis_ms}L + {bi} * {self.block_ms}L,
          'leader', concat('leader', {_ph(f"concat('ld', {bi})", 20)}),
          'transactions', {tx_struct},
          'rewards', array(named_struct(
            'pubkey', concat('leader', {_ph(f"concat('ld', {bi})", 20)}),
            'lamports', 100000 + {_ph(f"concat('rw', {bi})", 50000)},
            'rewardType', 'fee'))
        ))
        """
        return blocks.select("block_index", F.expr(resp).alias("response_json"))

    # -- transformation fan-out (X-01 + X-02) -------------------------------

    def transform(self, raw: DataFrame) -> dict[str, DataFrame]:
        """Parse once with an explicit schema, then project/explode per table.

        The parsed struct column is reused by every table derivation —
        Catalyst collapses the shared scan+parse into one stage per
        output write; flattening is `posexplode` (proto repeated fields
        → rows, X-02).  No shuffle anywhere except the two `distinct`
        entity tables (accounts/tokens), which shuffle only narrow key
        columns.
        """
        parsed = raw.select(
            "block_index",
            F.from_json("response_json", RESPONSE_SCHEMA).alias("r"),
        )
        parsed = parsed.withColumn(
            "block_timestamp", F.timestamp_millis(F.col("r.blockTimeMs"))
        )

        blocks = parsed.select(
            "block_index",
            F.col("r.blockhash").alias("block_hash"),
            F.col("r.previousBlockhash").alias("previous_hash"),
            "block_timestamp",
            F.size("r.transactions").alias("tx_count"),
            F.col("r.leader").alias("leader"),
        )

        txs = parsed.select(
            "block_index",
            "block_timestamp",
            F.posexplode("r.transactions").alias("tx_index", "tx"),
        )
        transactions = txs.select(
            "block_index",
            "tx_index",
            F.col("tx.hash").alias("tx_hash"),
            F.col("tx.signer").alias("signer"),
            F.col("tx.fee").alias("fee"),
            F.col("tx.status").alias("status"),
            "block_timestamp",
        )

        instructions = txs.select(
            "block_index",
            "tx_index",
            F.posexplode("tx.instructions").alias("instr_index", "ins"),
        ).select(
            "block_index",
            "tx_index",
            "instr_index",
            F.col("ins.program").alias("program"),
            F.col("ins.data_b64").alias("data_b64"),
            F.col("ins.accounts").alias("accounts"),
        )

        token_transfers = txs.select(
            "block_index",
            "tx_index",
            F.explode("tx.tokenTransfers").alias("tt"),
            "block_timestamp",
        ).select(
            "block_index",
            "tx_index",
            F.col("tt.mint").alias("mint"),
            F.col("tt.from_addr").alias("from_addr"),
            F.col("tt.to_addr").alias("to_addr"),
            F.col("tt.amount").alias("amount"),
            "block_timestamp",
        )

        block_rewards = parsed.select(
            "block_index", F.explode("r.rewards").alias("rw")
        ).select(
            "block_index",
            F.col("rw.pubkey").alias("pubkey"),
            F.col("rw.lamports").alias("lamports"),
            F.col("rw.rewardType").alias("reward_type"),
        )

        # Dependent entity lookups (S-06 analog): keys discovered in block
        # data drive a second derivation.  Deterministic enrichment stands
        # in for call_getMultipleAccounts; a real config swaps the
        # expressions for a mapPartitions batched RPC over the SAME
        # distinct-keys frame.
        # ``txs`` already carries each block's timestamp, so the lookup
        # needs no join back to ``blocks`` (a second parse + broadcast).
        accounts = (
            txs.select(
                "block_index",
                "block_timestamp",
                F.explode("tx.instructions").alias("ins"),
            )
            .select(
                "block_index",
                "block_timestamp",
                F.explode("ins.accounts").alias("pubkey"),
            )
            .groupBy("pubkey")
            .agg(
                F.min("block_index").alias("block_index"),
                F.min("block_timestamp").alias("retrieved_at"),
            )
            .select(
                "block_index",
                "pubkey",
                F.lit("system").alias("owner"),
                F.expr(f"{_ph('pubkey', 1000000000)}").alias("lamports"),
                F.lit(True).alias("is_new"),
                "retrieved_at",
            )
        )

        tokens = (
            token_transfers.groupBy("mint")
            .agg(F.min("block_index").alias("block_index"))
            .select(
                "block_index",
                "mint",
                F.expr(f"CAST({_ph('mint', 10)} AS INT)").alias("decimals"),
                F.expr("1000000 + " + _ph("concat(mint, 's')", 1000000)).alias("supply"),
                F.concat(F.lit("auth"), F.expr(_ph("mint", 30))).alias("authority"),
            )
        )

        return {
            "blocks": blocks,
            "transactions": transactions,
            "instructions": instructions,
            "accounts": accounts,
            "tokens": tokens,
            "token_transfers": token_transfers,
            "block_rewards": block_rewards,
        }
