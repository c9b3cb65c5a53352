"""The benchmark's workloads.  Each one generates its inputs from the seed,
warms a session, and yields closed-loop operations with their oracles."""

from __future__ import annotations

import os
import random


class Op:
    """One closed-loop operation.  ``run`` returns the number of items it
    produced (triples, documents, turns, rows); ``check`` verifies its
    output against an oracle that does not run kgloom.  ``timed`` ops feed
    the latency and throughput figures; ``boundary`` marks the last op of
    a unit of work."""

    def __init__(self, kind, run, check, timed=True, boundary=True):
        self.kind, self.run, self.check = kind, run, check
        self.timed, self.boundary = timed, boundary


class Workload:
    """``generate`` (untimed, no Spark) → ``warm`` (inside set-up) →
    ``prepare`` (untimed, may use Spark) → ``ops``.  ``extras`` collects
    per-layer figures the workload measures itself during the traced
    pass (bytes and files on disk).  A run measures whole units of work
    (the ops up to a boundary); ``UNIT_SECONDS`` is one unit's nominal
    time on the 4-core host, which turns ``--seconds`` into a unit count."""

    UNIT_SECONDS = 1.0

    def __init__(self, data_dir: str, seed: int):
        self.dir = data_dir
        self.seed = seed
        self.rng = random.Random(seed)
        self.extras: dict = {}
        os.makedirs(data_dir, exist_ok=True)

    def generate(self) -> None:
        pass

    def warm(self, spark) -> None:
        pass

    def prepare(self, spark) -> None:
        pass

    def ops(self, spark, tracer, pass_id: str):
        raise NotImplementedError


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(root, name))
            if not name.startswith(("_", ".")):
                files += 1
    return total, files


def line_digest(lines) -> tuple[int, int]:
    """Order-independent (count, 64-bit sum of line hashes).  Python's
    string hash is salted per process; both sides are computed in the
    same process."""
    n = acc = 0
    for line in lines:
        n += 1
        acc = (acc + hash(line)) & 0xFFFFFFFFFFFFFFFF
    return n, acc


from . import bulk, corpus, pipeline, stream  # noqa: E402

WORKLOADS = {
    "bulk_rml": bulk.BulkRml,
    "corpus_small": corpus.CorpusSmall,
    "pipeline_transcripts": pipeline.PipelineTranscripts,
    "stream_fold": stream.StreamFold,
}
