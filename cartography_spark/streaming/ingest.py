"""Streaming ingestion into the graph catalog: readStream -> foreachBatch
-> the REAL upsert/cleanup operators.

The reference's sync is a periodic batch loop (cartography/sync.py:240-297);
this is its continuous form: each micro-batch runs the same
schema->upsert->edge pipeline (operators/upsert.load) with the batch id as
the update tag, so ``firstseen``/``lastupdated`` lifecycle semantics carry
over unchanged and a stale-cleanup against the latest tag behaves exactly
like the batch engine's.

Scale note: foreachBatch makes the micro-batch a plain DataFrame, so every
batch gets the full Catalyst plan (broadcasts, AQE) — state lives in the
catalog tables, not the streaming state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.catalog import GraphCatalog
from cartography_spark.operators.upsert import load
from cartography_spark.schema import NodeSchema


def run_stream_upsert(catalog: GraphCatalog, schema: NodeSchema, stream_df: DataFrame):
    """Run the stream to completion (Trigger.AvailableNow) upserting each
    micro-batch with update tag batch id + 1; after it finishes the catalog
    holds the merged state and the per-batch lineage is checkpointed
    (bounded plans across batches)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        load(catalog, schema, batch_df, int(batch_id) + 1)
        catalog.checkpoint()

    q = stream_df.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    return catalog


def run_stream_lsh_dedup(base_docs: DataFrame, stream_docs: DataFrame):
    """Continuous near-dup detection: each micro-batch of arriving documents
    probes the accumulated corpus with the incremental LSH maintenance
    operator (operators/dedup.lsh_delta_pairs) and is then folded into the
    base — the streaming form of the daily-increment dedup contract.

    Per batch: pair cost is batch-postings x bucket (never corpus^2), and
    the growing base is localCheckpointed so plan lineage stays bounded
    across batches. State lives in the accumulated DataFrames, not the
    streaming state store, so every batch gets full Catalyst planning.

    Returns (all_pairs, final_base): the pairs discovered across the whole
    stream (each with at least one side in the batch that surfaced it) and
    the merged corpus.
    """
    from cartography_spark.operators.dedup import lsh_delta_pairs

    state = {
        "base": base_docs.select("doc_id", "text").localCheckpoint(eager=True),
        "pairs": None,
    }

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.select("doc_id", "text")
        if delta.isEmpty():
            return
        new_pairs = lsh_delta_pairs(state["base"], delta).localCheckpoint(eager=True)
        state["pairs"] = (
            new_pairs if state["pairs"] is None
            else state["pairs"].unionByName(new_pairs).localCheckpoint(eager=True)
        )
        state["base"] = (
            state["base"].unionByName(delta).localCheckpoint(eager=True)
        )

    q = stream_docs.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    spark = base_docs.sparkSession
    empty = spark.createDataFrame([], "a bigint, b bigint")
    return (state["pairs"] if state["pairs"] is not None else empty), state["base"]
