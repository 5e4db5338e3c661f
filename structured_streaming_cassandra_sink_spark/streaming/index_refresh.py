"""Continuous ANN-index maintenance — foreachBatch incremental LSH refresh.

The similarity index (operators/similarity.py lsh_build) is a snapshot
job; this module keeps it CONTINUOUSLY fresh as vectors stream in, the
composition a production retrieval stack runs: ingest -> signature ->
bucketed index, probe-able at any moment.

Design: hyperplane signatures are a PURE MAP of each vector, so an
incremental refresh never touches existing index data — each micro-batch
writes only its own rows into the same (t, sig)-partitioned layout the
batch build produces. Two scale properties fall out:

- per-epoch cost is O(batch), independent of index size (no rebuild);
- replay safety: each epoch writes under its own ``epoch=<id>``
  partition with overwrite, so a checkpoint-replayed micro-batch
  replaces its previous attempt instead of double-appending (the same
  epoch-directory idempotence as sinks.parquet_epoch_append_sink).

The probe (lsh_probe) reads the corpus root and partition-discovers
``epoch``/``t``/``sig``; its static (t, sig) filter prunes exactly as
for a batch-built index — epoch is invisible to it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import signature_rows
# signature_rows re-exported: the incremental refresh and the snapshot
# build share the ONE index-row definition in operators/similarity.py.
from .sinks import start_to_sink


def lsh_refresh_batch(batch: DataFrame, epoch_id: int, index_dir: str) -> None:
    """foreachBatch body: sign this epoch's vectors and (over)write them
    under corpus/epoch=<id>/ in the bucketed layout."""
    out = os.path.join(index_dir, "corpus", f"epoch={epoch_id}")
    csig = signature_rows(batch)
    # cluster by bucket before the partitioned write (same small-files
    # rationale as lsh_build) but at the DEFAULT shuffle width, not the
    # full bucket count: hash-clustering on (t, sig) still lands each
    # bucket in exactly one task — one file per touched (t, sig) dir —
    # while a small epoch batch spreads over ~32 tasks instead of 256
    # near-empty ones.
    csig.repartition("t", "sig").write.mode(
        "overwrite"
    ).partitionBy("t", "sig").parquet(out)


def streaming_lsh_refresh(
    spark: SparkSession,
    vectors_dir: str,
    index_dir: str,
    query_name: str = "LshRefresh",
    checkpoint_dir: str | None = None,
):
    """File-source vector stream -> incremental LSH index refresh.

    ``checkpoint_dir`` is what makes the epoch-overwrite replay
    guarantee REAL: with it, a restart resumes from the offset log and a
    replayed micro-batch keeps its epoch id, so the overwrite replaces
    the prior attempt. Without one Spark uses a TEMPORARY checkpoint
    (deleted on stop) — a restarted query would re-read everything with
    fresh epoch ids alongside the old dirs, double-indexing every
    vector. Defaults to a dir inside the index for convenience;
    production should point it at durable storage."""
    vecs = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(vectors_dir)
    )
    return start_to_sink(
        vecs,
        lambda b, eid: lsh_refresh_batch(b, eid, index_dir),
        checkpoint_dir or os.path.join(index_dir, "_checkpoint"),
        query_name=query_name,
        output_mode="append",
    )
