"""Run-ledger sink (SURVEY I7, C4, D2).

The reference logs one ``etl.log`` row per processed row over RPC —
one network round-trip each (cubicerpetl/cubicerpetl.py:783-811) — and
the ledger doubles as the engine's only persistent state (create-vs-
update recovery, :658-671). Here the ledger is an append-only Parquet
table written once per batch: schema matches the reference's fields
(job/server/resource/model/model_id/pk/level/message/check/amount) plus
a run timestamp, and reconciliation accumulators (D2) are one aggregate
over it instead of driver-side counters.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LEDGER_COLUMNS = (
    "job_id",
    "server_id",
    "resource_id",
    "model",
    "model_id",
    "pk",
    "level",
    "message",
    "check",
    "amount",
    "ts",
)


def ledger_job_id(job_name: str) -> int:
    """The ledger's ``job_id`` for a job: CRC-32 of its name. Unlike the
    built-in ``hash``, which Python salts per process, it is the same in
    every run, so rows from different runs of one job join on it."""
    return zlib.crc32(job_name.encode("utf-8"))


def build_ledger(
    rows: DataFrame,
    job_id: int,
    pk_col: str,
    level_col: str = None,
    message_col: str = None,
    model: str = "",
    model_id_col: str = None,
    amount_col: str = None,
) -> DataFrame:
    """Project a processed batch into ledger rows (row outcome capture
    without exceptions: level/message come from action columns that the
    merge/load operators tag, not from try/except-per-row)."""
    return rows.select(
        F.lit(job_id).cast("long").alias("job_id"),
        F.lit(None).cast("long").alias("server_id"),
        F.lit(None).cast("long").alias("resource_id"),
        F.lit(model).alias("model"),
        (F.col(model_id_col) if model_id_col else F.lit(None)).cast("long").alias(
            "model_id"
        ),
        F.col(pk_col).cast("string").alias("pk"),
        (F.col(level_col) if level_col else F.lit("info")).alias("level"),
        (F.col(message_col) if message_col else F.lit("Ok")).alias("message"),
        F.lit(True).alias("check"),
        (F.col(amount_col) if amount_col else F.lit(None)).cast("double").alias(
            "amount"
        ),
        F.current_timestamp().alias("ts"),
    )


def write_ledger(ledger_rows: DataFrame, path: str) -> None:
    """Append-mode write — the ledger only ever grows; readers take the
    latest success per pk (operators.merge.recover_ids_from_ledger)."""
    ledger_rows.write.mode("append").parquet(path)


def reconciliation(ledger_rows: DataFrame) -> DataFrame:
    """D2: per-level row counts and amount totals for a run."""
    return ledger_rows.groupBy("job_id", "level").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("amount").alias("total_amount"),
        F.min(F.col("check").cast("int")).cast("boolean").alias("all_checked"),
    )
