"""A3 — cross-poll snapshot diff (SURVEY.md §2.5).

The reference compares each deduplicated batch against the previous
poll's batch **by dvjId only**, counting new vs repeated rows, then
replaces the snapshot (``logChangesInCancellations``,
``OmmCancellationHandler.java:206-226``).  The Java form is an O(n^2)
nested loop over driver-held lists; the relational form is one left
join onto the previous keys with an existence flag, which Spark executes
as a broadcast or shuffled hash join — O(n) per executor and valid at
any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def diff_counts(
    cur: DataFrame,
    prev: DataFrame | None,
    key: str = "dvj_id",
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """One-row DataFrame (total, new, repeated) — the reference's log line.

    Computed as a single aggregation over an existence flag (one join,
    one pass) rather than two separate counting jobs.  ``extra`` adds
    caller-supplied aggregate columns to the SAME pass (e.g. the F8
    combination counter) so operational counters never cost a second
    job over the batch.
    """
    extras = [c.alias(n) for n, c in (extra or {}).items()]
    if prev is None:
        return cur.agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.lit(1)).alias("new"),
            F.lit(0).cast("long").alias("repeated"),
            *extras,
        )
    prev_keys = prev.select(F.col(key).alias(key)).distinct().withColumn(
        "__seen", F.lit(1)
    )
    return (
        cur.join(prev_keys, key, "left")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("__seen").isNull(), 1)).alias("new"),
            F.count(F.when(F.col("__seen").isNotNull(), 1)).alias("repeated"),
            *extras,
        )
    )
