"""Keep decision + drop_reasons (SURVEY.md §2 O-14): pure Column
expressions over the per-rule boolean flags — no UDF in the verdict
path, so it stays inside whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import RULE_ORDER
from ..functions import built_once

# flag column naming convention: f"bad_{rule_name}"


def flag_col(rule: str) -> str:
    return f"bad_{rule}"


def _keep_columns() -> tuple[Column, Column]:
    reason_arr = F.array(*[
        F.when(F.coalesce(F.col(flag_col(r)), F.lit(True)), F.lit(r))
        for r in RULE_ORDER
    ])
    reasons = F.filter(reason_arr, lambda x: x.isNotNull())
    bitmask = F.lit(0)
    for i, r in enumerate(RULE_ORDER):
        bitmask = bitmask + F.when(
            F.coalesce(F.col(flag_col(r)), F.lit(True)), F.lit(1 << i)
        ).otherwise(F.lit(0))
    return reasons, bitmask.cast("int")


def with_keep(df: DataFrame) -> DataFrame:
    """Requires one boolean column per rule in RULE_ORDER (null-safe:
    null flags are treated as violations = conservative drop).
    Emits drop_reasons (names), keep, and the compact rule_flags
    bitmask (bit i = RULE_ORDER[i] violated — SURVEY §1.2)."""
    reasons, bitmask = built_once(df.sparkSession.sparkContext,
                                  "with_keep", _keep_columns)
    return (
        df.withColumn("drop_reasons", reasons)
        .withColumn("rule_flags", bitmask)
        .withColumn("keep", F.size("drop_reasons") == 0)
    )
