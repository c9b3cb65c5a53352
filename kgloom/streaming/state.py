"""The one state store behind the streaming folds.

Every fold keeps its state as parquet directories, one per micro-batch,
under ``state_path``.  A table is named with its directory key, so the
layout is spelled out where it is used:

- versioned tables, the whole state as of batch ``k``: ``slice/v=k``,
  ``minima/v=k``, ``cent/v=k``, ``summ/v=k``, ``tot/v=k``, ``cnt/v=k``,
  ``map/v=k``;
- append tables, batch ``k``'s own rows: ``raw/batch=k``,
  ``bands/batch=k``, ``flags/batch=k``;
- the one-row lineage record of batch ``k``: ``metrics/batch=k``.

Commit rule: a directory counts only once its parquet ``_SUCCESS``
marker exists, and a version is visible only when it is complete in
EVERY table its fold writes.  A fold that dies between two of its
tables therefore leaves the previous version in view, never a mix of
two.  Each batch overwrites its own directories and reads only
versions older than itself, so a replayed batch rewrites the same
rows: retry-idempotent under Structured Streaming's replay contract.

Listing uses the local filesystem; for DFS-resident state the one
change needed is swapping ``_complete`` to the Hadoop FileSystem API.
"""

from __future__ import annotations

import glob
import os
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession


def _path(state_path: str, table: str, version: int) -> str:
    return os.path.join(state_path, f"{table}={version}")


def _complete(state_path: str, table: str) -> set:
    out = set()
    for d in glob.glob(os.path.join(state_path, f"{table}=*")):
        v = d.rsplit("=", 1)[1]
        if v.isdigit() and os.path.exists(os.path.join(d, "_SUCCESS")):
            out.add(int(v))
    return out


def versions(state_path: str, tables: Sequence[str],
             before: Optional[int] = None) -> list:
    """Ascending versions (< ``before`` if given) complete in every
    one of ``tables``."""
    done = set.intersection(*(_complete(state_path, t) for t in tables))
    return sorted(v for v in done if before is None or v < before)


def read(spark: SparkSession, state_path: str, table: str, ddl: str,
         *vs: int) -> DataFrame:
    """The union of the given versions of one table."""
    return spark.read.schema(ddl).parquet(
        *(_path(state_path, table, v) for v in vs))


def read_latest(spark: SparkSession, state_path: str, ddls: dict,
                before: Optional[int] = None) -> Optional[list]:
    """One DataFrame per table of ``ddls`` ({table: ddl}), all at the
    newest version complete in every one of them, or None."""
    vs = versions(state_path, list(ddls), before)
    if not vs:
        return None
    return [read(spark, state_path, t, ddl, vs[-1])
            for t, ddl in ddls.items()]


def write(df: DataFrame, state_path: str, table: str,
          batch_id: int) -> None:
    df.write.mode("overwrite").parquet(_path(state_path, table, batch_id))


def write_metrics(spark: SparkSession, state_path: str, batch_id: int,
                  **counts: int) -> None:
    """The batch's one-row ``metrics/batch=k`` record of long counts."""
    ddl = ", ".join(f"{c} long" for c in ("batch_id", *counts))
    write(spark.createDataFrame([(batch_id, *counts.values())], ddl),
          state_path, "metrics/batch", batch_id)


def start(stream_df: DataFrame, fold: Callable[[DataFrame, int], None],
          checkpoint_path: str, available_now: bool):
    """Run ``fold(batch_df, batch_id)`` on every micro-batch."""
    writer = (stream_df.writeStream
              .foreachBatch(fold)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
