"""Streaming writers into a :class:`MuraTable` via ``foreachBatch``.

Structured Streaming's file sinks are append-only. Keeping a table that
is keyed (a CDC apply, an additive rollup state, a change-feed mirror)
needs ``foreachBatch`` and a transactional table write. All three
writers take the same path, :func:`foreach_table_batch`:
:func:`apply_cdc_batches`, :func:`maintain_rollup_batches` and
:func:`mura_spark.sources.table_stream.replicate_changes`.

Exactly-once: ``foreachBatch`` re-runs a batch whose checkpoint commit
did not land (a crash after the table commit, or a lost
``commits/<n>`` file). Each writer commits with
``txn=(f"<kind>:{query_id}", batch_id)``, so the batch's txn mark lands
in the same table commit as its rows, and the table skips the replay
(Delta's idempotent ``foreachBatch`` writes). The query id is Spark's
persistent id from ``<checkpoint>/metadata`` (:func:`query_id`, which
the ``mura_table`` stream sink reads for its ``stream:`` mark too): a
fresh or wiped checkpoint is a new query whose batches are new, not
replays.

Every write is a copy-on-write table commit. It writes new files and
never touches the files it reads, so no materialization barrier is
needed, and a partitioned target rewrites only the partitions a batch
touches.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame

from mura_spark.operators.upsert import upsert_latest


def query_id(checkpoint: str) -> str:
    """Spark's persistent id of the streaming query checkpointed at
    ``checkpoint``: the same across restarts on that checkpoint, new
    for a fresh or wiped one."""
    return json.loads(Path(checkpoint, "metadata").read_text())["id"]


def foreach_table_batch(stream: DataFrame, checkpoint: str, apply,
                        available_now: bool = False):
    """Start ``stream`` as a ``foreachBatch`` query checkpointed at
    ``checkpoint`` that calls ``apply(batch, query_id, batch_id)`` per
    micro-batch; ``query_id`` is Spark's id for the query, stable
    across restarts on the same checkpoint. ``available_now=True``
    drains the backlog and stops.

    Returns the StreamingQuery; caller owns ``awaitTermination``/``stop``.
    """
    def each(batch: DataFrame, batch_id: int) -> None:
        apply(batch, query_id(checkpoint), batch_id)

    writer = (stream.writeStream.foreachBatch(each)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_cdc_batches(stream: DataFrame, target, keys: list[str],
                      version_col: str, checkpoint_dir: str,
                      available_now: bool = False):
    """Start a ``foreachBatch`` query that merges each micro-batch into
    ``target`` (a :class:`MuraTable`) with keep-latest semantics
    (:func:`mura_spark.operators.upsert.upsert_latest` — newest
    ``version_col`` per key wins, batch side wins ties). The merge
    source is the keep-latest reduction of the batch with the target
    rows of the batch's keys, so it is unique per key by construction,
    also when one batch carries several versions of a key (an
    ``availableNow`` initial load), and a batch row older than the
    table's row for its key loses.

    Returns the StreamingQuery; caller owns ``awaitTermination``/``stop``.
    """
    def apply(batch: DataFrame, query_id: str, batch_id: int) -> None:
        current = target.read().join(batch, keys, "left_semi")
        target.merge(upsert_latest(current, batch, keys, version_col),
                     keys, trust_source_unique=True,
                     txn=(f"cdc:{query_id}", batch_id))

    return foreach_table_batch(stream, checkpoint_dir, apply,
                               available_now)


def maintain_rollup_batches(stream: DataFrame, target, keys: list[str],
                            value: str, checkpoint_dir: str,
                            available_now: bool = False):
    """Start a ``foreachBatch`` query that maintains the mergeable rollup
    state of :mod:`mura_spark.operators.incremental` in ``target`` (a
    :class:`MuraTable`): each micro-batch is reduced to its partial
    state (one reduced shuffle of the BATCH only) and monoid-merged
    into the dimension-sized state — the streaming form of incremental
    materialized-view refresh; read-time consumers call
    ``incremental.finalize`` on ``target.read()``.

    Additive partials are NOT naturally idempotent (re-merging a
    delivered batch double-counts), so the txn mark of the overwrite
    is what makes a redelivered batch a no-op. Batch 0 is the source
    replaying from offset zero (a new or wiped checkpoint), so it
    REBUILDS the state rather than merging into whatever an earlier
    checkpoint left: a fresh checkpoint never double-counts old state
    nor skips new data. A target whose state cannot merge with the
    batch's (wrong shape) fails the stream and stays as it was.

    Returns the StreamingQuery; caller owns ``awaitTermination``/``stop``.
    """
    from mura_spark.operators.incremental import merge_states, partial_state

    def apply(batch: DataFrame, query_id: str, batch_id: int) -> None:
        new = partial_state(batch, keys, value)
        if batch_id:
            new = merge_states([target.read(), new], keys)
        target.overwrite(new, txn=(f"rollup:{query_id}", batch_id))

    return foreach_table_batch(stream, checkpoint_dir, apply,
                               available_now)
