"""Dead-letter routing: valid rows forward, rejects to a quarantine sink.

The batch form of the reference's REL_SUCCESS / REL_FAILURE two-way
relationship (PontusProcessorBase.java:194-204; failure transfer
PontusNLPProcessor.java:365-371): a malformed record never fails the batch,
it is routed with a reason and the epoch commits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VALID_OPS = ("I", "U", "D")


def validity(keys: list[str] = ["conv_id", "turn_idx"], lsn_col: str = "lsn", op_col: str = "op") -> Column:
    """NULL reason for valid rows, else the first failed rule's name."""
    checks = [
        (F.col(lsn_col).isNull(), "null_lsn"),
        (~F.col(op_col).isin(*VALID_OPS), "bad_op"),
        ((F.col(op_col) != "D") & F.col("text").isNull(), "null_text"),
    ]
    for k in keys:
        checks.append((F.col(k).isNull(), f"null_{k}"))
    reason = F.lit(None).cast("string")
    for cond, name in reversed(checks):
        reason = F.when(cond, F.lit(name)).otherwise(reason)
    return reason


def split_valid(
    df: DataFrame,
    keys: list[str] = ["conv_id", "turn_idx"],
    lsn_col: str = "lsn",
    op_col: str = "op",
    reason: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined-with-reason). One pass over the plan each; the
    scan is shared via the same source relation and both filters push down.
    ``reason``: a ``validity`` column built once for the same arguments, by
    a caller that splits every epoch (a Column is an unresolved expression,
    so one serves every batch of the session).
    """
    if reason is None:
        reason = validity(keys, lsn_col, op_col)
    valid = df.where(reason.isNull())
    bad = df.withColumn("_reject_reason", reason).where(F.col("_reject_reason").isNotNull())
    return valid, bad
