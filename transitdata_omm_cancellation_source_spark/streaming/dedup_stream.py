"""Incremental minhash-band dedup as REAL Structured Streaming (r14
verdict #4).

The r14 form simulated ``foreachBatch`` with a driver ``for`` loop;
the state discipline was oracle-certified but the leg never exercised
Spark's own streaming machinery.  This module runs the same semantics
end-to-end through a readStream:

- **source**: a parquet FILE SOURCE over ``root/in`` — each document
  batch is published as exactly one file; consecutive batches are
  drained by SEPARATE ``availableNow`` runs sharing ONE checkpoint, so
  every inter-batch boundary is a full query restart recovered from
  the offset log (the discipline the certified two-cycle poll
  exercises — ``streaming/poller.py`` — now on the dedup leg, on
  every single run of the query).
- **state**: per-batch immutable parquet dirs under ``root/state``
  keyed by the stream's OWN batchId and written ``mode=overwrite`` —
  ``foreachBatch`` is at-least-once, so a redelivered micro-batch
  rewrites identical content instead of doubling it
  (``tests/test_dedup_stream.py`` replays a committed batch through
  Spark's offset log to pin exactly this).  At production scale these
  dirs are the band-index partitions of the standing corpus artifact
  (``artifacts.stored_frame(disk=True)``) and a compaction job folds them
  in; the per-batch layout here IS the streaming-state append form of
  that table.
- **emission**: per micro-batch, candidates = (new bands x seen
  bands) ∪ (new self-join) — the pairs whose arrival this batch
  completes, each emitted exactly once across the stream (a pair's
  emission batch is the max of its sides' batches); exact Jaccard
  verification reads shingles from the seen-so-far index.  Outputs
  land under ``root/out`` in the same idempotent per-batch layout;
  their union is the full-corpus minhash pair set labeled with
  emission batch — precisely the registry oracle's recompute, so the
  hash match certifies cross-batch exactness.

Feature compute (word hashes -> shingles -> band keys) runs for the
BATCH's new docs only, through the exact helpers the standing corpus
frames are built with (``dedup_fuzzy._wh_of`` / ``_shingles_of`` /
``_band_keys_frame``) — one recipe, two consumers, no drift.
"""

from __future__ import annotations

import os
import shutil
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEDUP_STREAM_QUERY_NAME = "graft-dedup-stream"

_DOC_SCHEMA = "doc_id long, text string"


def publish_batch_file(df: DataFrame, indir: str, name: str) -> None:
    """Publish ``df`` as exactly ONE parquet file in the stream input
    dir (one file == one future micro-batch here, because batches are
    drained one availableNow run at a time).  Written to a dot-prefixed
    temp dir first — the file source ignores hidden paths — then the
    single part file is atomically renamed into place, so the source
    can never list a half-written file."""
    os.makedirs(indir, exist_ok=True)
    tmp = os.path.join(indir, f".tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
    os.replace(os.path.join(tmp, part), os.path.join(indir, f"{name}.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)


def drain_available(spark: SparkSession, root: str, tau: float) -> None:
    """One availableNow run of the dedup stream: processes every input
    file the checkpoint hasn't committed yet, one foreachBatch call
    per discovered batch.  Each call to this function is a fresh
    StreamingQuery recovering from the shared checkpoint — the
    restart-per-batch discipline described in the module docstring."""
    stream = (
        spark.readStream.schema(_DOC_SCHEMA).parquet(os.path.join(root, "in"))
    )
    q = (
        stream.writeStream.foreachBatch(_on_batch(root, tau))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .queryName(DEDUP_STREAM_QUERY_NAME)
        .start()
    )
    q.awaitTermination()


def _on_batch(root: str, tau: float):
    """The foreachBatch body (closure over the state root)."""

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup_fuzzy import (
            _band_keys_frame,
            _shingles_of,
            _wh_of,
        )

        b = int(batch_id) + 1  # oracle's batch label is 1-based
        spark = batch_df.sparkSession
        sh_dir = os.path.join(root, "state", f"sh_b{b}")
        bk_dir = os.path.join(root, "state", f"bk_b{b}")
        # Feature compute for the batch's NEW docs only; overwrite =
        # idempotent under at-least-once redelivery.  Bands are
        # derived from the WRITTEN shingle state (read-back), so the
        # two state tables can never disagree even if the batch source
        # were nondeterministic.
        _shingles_of(_wh_of(batch_df)).write.mode("overwrite").parquet(sh_dir)
        new_sh = spark.read.parquet(sh_dir)
        # Kernel width = the state read's own scan partitioning (bytes
        # -> splits via maxPartitionBytes), not defaultParallelism: a
        # small batch stays a couple of tasks/state files instead of
        # fanning 32 near-empty Python tasks, and a large batch file
        # splits into proportionally more partitions on its own.
        _band_keys_frame(
            new_sh, width=max(1, new_sh.rdd.getNumPartitions())
        ).write.mode("overwrite").parquet(bk_dir)

        new_b = spark.read.parquet(bk_dir)
        within = (
            new_b.alias("x")
            .join(
                new_b.alias("y"),
                (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
        )
        prior_bk = [
            os.path.join(root, "state", f"bk_b{i}") for i in range(1, b)
        ]
        if prior_bk:
            state_b = spark.read.parquet(*prior_bk)
            cross = (
                new_b.alias("n")
                .join(
                    state_b.alias("s"),
                    F.col("n.band_key") == F.col("s.band_key"),
                )
                .select(
                    F.least(F.col("n.doc_id"), F.col("s.doc_id")).alias(
                        "doc_a"
                    ),
                    F.greatest(F.col("n.doc_id"), F.col("s.doc_id")).alias(
                        "doc_b"
                    ),
                )
            )
            cand = within.unionAll(cross).distinct()
        else:
            cand = within.distinct()
        seen_sh = spark.read.parquet(
            *[os.path.join(root, "state", f"sh_b{i}") for i in range(1, b + 1)]
        )
        inter = F.size(
            F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles"))
        )
        jac = inter / (
            F.size(F.col("sa.shingles")) + F.size(F.col("sb.shingles")) - inter
        )
        (
            cand.join(seen_sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
            .join(seen_sh.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
            .filter(jac >= tau)
            .select(
                "doc_a",
                "doc_b",
                F.round(jac, 6).alias("jaccard"),
                F.lit(b).cast("int").alias("batch"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(root, "out", f"b{b}"))
        )

    return on_batch


def run_band_stream(
    spark: SparkSession,
    batches: Sequence[DataFrame],
    root: str,
    tau: float,
) -> DataFrame:
    """Execute the incremental dedup stream over the ordered
    ``(doc_id, text)`` batches; returns the emitted pair frame
    ``(doc_a, doc_b, jaccard, batch)`` read from the sink.

    Batches are published and drained one at a time, so batch ``i``
    is micro-batch ``i`` of the stream by construction and every
    boundary is a checkpoint-recovered query restart.
    """
    for i, docs in enumerate(batches, start=1):
        publish_batch_file(docs, os.path.join(root, "in"), f"b{i}")
        drain_available(spark, root, tau)
    outs = [
        os.path.join(root, "out", f"b{i}")
        for i in range(1, len(batches) + 1)
        if os.path.isdir(os.path.join(root, "out", f"b{i}"))
    ]
    return spark.read.parquet(*outs)
