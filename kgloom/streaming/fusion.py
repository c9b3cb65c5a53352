"""Streaming INCREMENTAL owl:sameAs fusion.

Unlike the rho-df closure (``stream_closed_triples``), sameAs fusion
does NOT distribute over union: a sameAs edge arriving in batch k can
merge two components first seen in batches i < j < k, changing the
canonical term of triples emitted long ago.  Keyed streaming state
(``applyInPandasWithState``) cannot express that either — connected
components is a GLOBAL equivalence relation, and any grouping key
splits it.  The scalable exact design is incremental view maintenance
via ``foreachBatch``:

- **raw store** (append-only, one ``batch=<id>`` dir per micro-batch,
  per-batch ``overwrite`` → retry-idempotent): the batch's data
  triples, stored UN-rewritten.  Original terms are stable under
  future merges, so no stored byte is ever invalidated.
- **alias map** (versioned, one ``v=<batch_id>`` dir per batch): the
  global (node, canonical) map after folding in the batch's sameAs
  edges.  Incremental recurrence::

      map_k = CC(map_{k-1} as edges  UNION  sameAs edges of batch k)

  Exact by induction: ``map_{k-1}`` (node -> canonical) is a spanning
  star forest of the first k-1 batches' sameAs graph — same node
  partition, same lexicographically-minimal canonicals — so closing
  it with the new edges yields exactly ``CC(all edges so far)``.
  Per-batch cost is O(|map| + |batch|), never O(history).  A replayed
  batch recomputes from ``map_{batch_id - 1}`` (strictly-older
  version), so a failure after a partial map write is repaired, not
  compounded.
- **fused output** = ``read_fused``: raw triples rewritten through the
  LATEST map at read time (two joins; the map side is orders of
  magnitude smaller than the data and broadcasts under AQE).  Eagerly
  rewriting history on every cross-batch merge would be O(history)
  per batch — the lazy view is the 100-TB shape; ``compact_fused``
  materializes a snapshot when read amplification matters.
- **metrics** (one row per batch): data/edge/map-size counts plus
  ``n_changed`` — how many alias rows this batch added or re-pointed —
  the per-batch lineage record for merge auditing.

State: ``raw/batch={id}`` and ``map/v={id}`` in :mod:`.state`.  Version
k is visible once both are complete, and the view then reads the
complete raw batches ≤ k.

The reference names streaming targets as enum values only
(IOType::Kafka/Websocket, operator/src/lib.rs:362-370); this realizes
the incremental-materialization semantics those targets would need.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.reasoning import OWL_SAMEAS, rewrite_canonical
from . import state

TRIPLE_DDL = "subj string, pred string, obj string"
_MAP_DDL = "node string, canonical string"
_TABLES = ("raw/batch", "map/v")


def read_triple_stream(spark: SparkSession, input_path: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of (subj, pred, obj) parquet triples."""
    return (spark.readStream
            .schema(TRIPLE_DDL)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_path))


def read_alias_map(spark: SparkSession, state_path: str,
                   before: Optional[int] = None) -> Optional[DataFrame]:
    """The newest visible alias-map version (< ``before`` if given),
    or None before the first batch."""
    vs = state.versions(state_path, _TABLES, before)
    return state.read(spark, state_path, "map/v", _MAP_DDL, vs[-1]) \
        if vs else None


def fold_alias_map(prev_map: Optional[DataFrame],
                   edges: DataFrame) -> DataFrame:
    """One step of the incremental recurrence:
    ``map_k = CC(map_{k-1} as star-forest edges  UNION  edges_k)``.
    ``prev_map`` is (node, canonical) or None for the first step;
    ``edges`` is (src, dst).  Returns the new (node, canonical) map
    (non-identity rows only).  Exact because the previous map spans
    the same node partition with the same lexicographically-minimal
    canonicals as all edges folded so far."""
    from ..transcripts.er import connected_components

    if prev_map is not None:
        edges = edges.unionByName(
            prev_map.select(F.col("node").alias("src"),
                            F.col("canonical").alias("dst")))
    return (connected_components(edges)
            .where(F.col("node") != F.col("component"))
            .select("node", F.col("component").alias("canonical")))


def fuse_batch(spark: SparkSession, state_path: str,
               batch_df: DataFrame, batch_id: int,
               same_as_pred: str = OWL_SAMEAS) -> None:
    """Fold one micro-batch into the incremental-fusion state.
    Deterministic in (state up to batch_id-1, batch contents) — safe
    under micro-batch replay."""
    data = batch_df.where(F.col("pred") != same_as_pred)
    state.write(data, state_path, "raw/batch", batch_id)

    batch_edges = (batch_df.where(F.col("pred") == same_as_pred)
                   .select(F.col("subj").alias("src"),
                           F.col("obj").alias("dst"))
                   .where(F.col("src") != F.col("dst")))
    prev = read_alias_map(spark, state_path, before=batch_id)
    state.write(fold_alias_map(prev, batch_edges), state_path, "map/v",
                batch_id)

    # per-batch lineage metrics; n_changed = alias rows added or
    # re-pointed by this batch (anti-join vs the previous map) — a
    # cross-batch component merge shows up here as exactly the
    # re-canonicalized member set
    written = state.read(spark, state_path, "map/v", _MAP_DDL, batch_id)
    changed = written if prev is None else \
        written.join(prev, ["node", "canonical"], "left_anti")
    state.write_metrics(spark, state_path, batch_id,
                        n_data=data.count(), n_edges=batch_edges.count(),
                        n_map=written.count(), n_changed=changed.count())


def stream_fused_triples(spark: SparkSession, input_path: str,
                         state_path: str, checkpoint_path: str,
                         same_as_pred: str = OWL_SAMEAS,
                         available_now: bool = True,
                         max_files_per_trigger: int = 1):
    """Streaming incremental sameAs fusion: triple stream →
    ``fuse_batch`` per micro-batch.  Read the result with
    ``read_fused`` (exact: equals batch ``same_as_fusion`` over the
    full input — pinned by ``tests/test_streaming_fusion.py``,
    including components that merge ACROSS batches)."""
    return state.start(
        read_triple_stream(spark, input_path, max_files_per_trigger),
        lambda df, i: fuse_batch(spark, state_path, df, i, same_as_pred),
        checkpoint_path, available_now)


def read_fused(spark: SparkSession, state_path: str) -> DataFrame:
    """The fused view: the complete raw batches up to the newest
    visible version, rewritten through that version's alias map.
    O(data) with two broadcast-sized joins; no history rewrite ever
    happens at ingest time."""
    vs = state.versions(state_path, _TABLES)
    if not vs:
        raise ValueError(f"no complete fusion state under {state_path}")
    raw = state.read(spark, state_path, "raw/batch", TRIPLE_DDL,
                     *state.versions(state_path, ["raw/batch"], vs[-1] + 1))
    return rewrite_canonical(
        raw, state.read(spark, state_path, "map/v", _MAP_DDL, vs[-1]))


def read_fusion_metrics(spark: SparkSession, state_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(state_path, "metrics"))


def compact_fused(spark: SparkSession, state_path: str,
                  output_path: str) -> None:
    """Materialize the fused view as one parquet snapshot — the
    periodic compaction that bounds read amplification of the lazy
    view (run it every N batches or on merge-volume triggers, not per
    batch: per-batch compaction would be the O(history) rewrite the
    design avoids)."""
    read_fused(spark, state_path).write.mode("overwrite").parquet(output_path)
