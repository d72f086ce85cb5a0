"""Incremental ingestion: stream → merge/upsert into a parquet table.

The composition the reference's load stage is missing: its JDBC writer
appends blindly on every rerun (load/execute.py:91), so re-running the
pipeline duplicates rows. Here each micro-batch MERGEs into the target by
key (sources/writers.merge_upsert_parquet), which makes the sink
*idempotent* — and idempotence is exactly what turns Structured Streaming's
at-least-once foreachBatch replay into effectively-exactly-once delivery:
a replayed batch re-merges the same keys to the same values.

Scale shape: each micro-batch touches only the partitions its rows land in
(dynamic partition overwrite), so steady-state ingestion cost tracks batch
size, not table size. The checkpoint directory holds the source offsets;
the merge itself needs no transaction log because replays converge.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from movie_recommendation_etl_spark.sources.writers import (
    merge_upsert_parquet,
)


def stream_merge_upsert(
    stream: DataFrame,
    path: str,
    key_cols: Sequence[str],
    *,
    checkpoint_dir: str,
    order_col: str | None = None,
    partition_by: Sequence[str] | None = None,
) -> None:
    """Drain everything currently available from ``stream``, merging each
    micro-batch into the parquet table at ``path`` by ``key_cols``.

    Uses trigger(availableNow) — the batch-like drain used in tests and
    backfills; a production job drops the trigger and runs continuously
    with the same semantics.
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_upsert_parquet(
                batch_df.sparkSession,
                batch_df,
                path,
                key_cols,
                order_col=order_col,
                partition_by=partition_by,
            )

    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_admit_documents(
    docs_stream: DataFrame,
    store_path: str,
    sink_path: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    sim_threshold: float = 0.7,
    max_bucket_candidates: int | None = None,
    available_now: bool = True,
):
    """Streaming FUZZY-dedup ingestion (r16): drain a document stream
    through the persisted MinHash admission store — each micro-batch runs
    the exact batch admission (operators/incremental_dedup.
    admit_new_documents: within-batch greedy-by-id rejection + store
    probe + signature merge) and lands its admitted rows in the files
    sink. This tier rejects NEAR-duplicates against everything ever
    admitted, with O(batch) work per batch and no driver-held state (the
    store is a partitioned parquet table).

    Effectively exactly-once under foreachBatch's at-least-once replay,
    by composition of two idempotent pieces: admit_new_documents
    documents same-id replays as the supported exception (the store
    merge is an upsert by id; the greedy-by-id verdicts are
    deterministic, and a doc admitted by the crashed attempt is NOT
    self-rejected on replay — the store probe excludes same-id rows), and
    the sink OVERWRITES its own ``ingest_batch=<id>`` partition directory
    so a replayed batch converges instead of duplicating files. Read the
    sink root; ``ingest_batch`` surfaces as an ordinary partition column.

    Returns the started StreamingQuery (caller awaits termination).
    ``available_now`` drains what exists and stops — the test/backfill
    trigger; a production job passes False and runs continuously.
    """
    from movie_recommendation_etl_spark.operators.incremental_dedup import (
        admit_new_documents,
    )

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        admitted = admit_new_documents(
            batch_df.sparkSession,
            batch_df,
            store_path,
            id_col=id_col,
            text_col=text_col,
            k=k,
            sim_threshold=sim_threshold,
            max_bucket_candidates=max_bucket_candidates,
        )
        admitted.write.mode("overwrite").parquet(
            f"{sink_path}/ingest_batch={batch_id}"
        )

    writer = docs_stream.writeStream.foreachBatch(_admit).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_admit_embeddings(
    vecs_stream: DataFrame,
    store_path: str,
    sink_path: str,
    checkpoint_dir: str,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cos_threshold: float = 0.92,
    max_bucket_candidates: int | None = None,
    available_now: bool = True,
):
    """Vector twin of :func:`stream_admit_documents`: drain an embedding
    stream through the persisted SRP admission store
    (operators/incremental_dedup.admit_new_embeddings per micro-batch —
    quantized-cosine rejection against everything ever admitted plus
    smaller-id batch neighbors), admitted rows landing in idempotent
    ``ingest_batch=<id>`` sink directories. Same exactly-once
    composition and lifecycle contract as the document tier."""
    from movie_recommendation_etl_spark.operators.incremental_dedup import (
        admit_new_embeddings,
    )

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        admitted = admit_new_embeddings(
            batch_df.sparkSession,
            batch_df,
            store_path,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            cos_threshold=cos_threshold,
            max_bucket_candidates=max_bucket_candidates,
        )
        admitted.write.mode("overwrite").parquet(
            f"{sink_path}/ingest_batch={batch_id}"
        )

    writer = vecs_stream.writeStream.foreachBatch(_admit).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
