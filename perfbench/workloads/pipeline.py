"""pipeline_transcripts: the checkpointed transcripts pipeline, run to a
committed triples snapshot and then resumed.

Input: seeded ``generate_transcripts`` turns written as parquet (untimed).
Each fresh run links the input, writes the mentions, entities and triples
snapshots (with parquet-footer row counts) and is the timed operation; the
``resume=True`` run that follows reads snapshots instead of writing them.
Write-heavy through ``kgloom.tables``, with ER's iterative joins and the
mention regexes; the only workload where the binder reads a DataFrame
source.

Oracle (DuckDB over the input parquet, no kgloom): partOf/role/text triple
counts equal the turn count, usedTool triples equal the non-null tool
count, mention triples equal the distinct (conversation, turn, entity
digits) of the mention regex, and the resume returns the same snapshot ids.
"""

from __future__ import annotations

import os
import shutil

from . import Op, Workload, tree_size

TURNS = 30_000
CONVS = 1_000
ENTITIES = 500
WARM_TURNS = 2_000
SHUFFLE_PARTITIONS = 8
KG = "http://kg.example/ontology/"


def expected_counts(input_path: str) -> dict:
    """Triple counts per predicate, from the input alone."""
    import duckdb

    from kgloom.transcripts.mentions import MENTION_PATTERN
    src = f"read_parquet('{input_path}/*.parquet')"
    con = duckdb.connect()
    try:
        turns, tools = con.execute(
            f"SELECT count(*), count(tool) FROM {src}").fetchone()
        mentions = con.execute(f"""
            SELECT count(*) FROM (
              SELECT DISTINCT conv_id, turn_idx,
                     regexp_replace(lower(m), '[^0-9]', '', 'g')
              FROM (SELECT conv_id, turn_idx,
                           unnest(regexp_extract_all(text, ?)) AS m
                    FROM {src}))""", [MENTION_PATTERN]).fetchone()[0]
    finally:
        con.close()
    return {f"<{KG}partOf>": turns, f"<{KG}role>": turns,
            f"<{KG}text>": turns, f"<{KG}usedTool>": tools,
            f"<{KG}mentions>": mentions}


def triple_counts(triples) -> dict:
    return {r["pred"]: r["count"]
            for r in triples.groupBy("pred").count().collect()}


def write_warm_turns(path: str, rng) -> None:
    """A small transcripts table in the generator's schema, written with
    pyarrow so a warm-up needs no Spark write of its own."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path)
    roles = ["user", "assistant", "tool"]
    rows = [(f"conv-{t % 20}", t // 20, roles[t % 3],
             f"turn {t}: discusses Entity_{rng.randrange(30)} via chat",
             "search" if t % 3 == 2 else None,
             datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=t))
            for t in range(WARM_TURNS)]
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2], pa.string()),
        "text": pa.array(cols[3], pa.string()),
        "tool": pa.array(cols[4], pa.string()),
        "ts": pa.array(cols[5], pa.timestamp("us")),
    }), os.path.join(path, "part-0.parquet"))


class PipelineTranscripts(Workload):
    UNIT_SECONDS = 2.0  # a fresh run and its resume

    def generate(self):
        self.input = os.path.join(self.dir, "turns")
        self.written: dict[str, list] = {}
        self.warm_input = os.path.join(self.dir, "warm-turns")
        write_warm_turns(self.warm_input, self.rng)

    def warm(self, spark):
        from kgloom.transcripts.pipeline import TranscriptPipeline
        store = os.path.join(self.dir, "warm-store")
        TranscriptPipeline(spark, store,
                           shuffle_partitions=SHUFFLE_PARTITIONS).run(
            transcripts=self.warm_input)
        shutil.rmtree(store)

    def prepare(self, spark):
        from pyspark.sql import functions as F

        from kgloom.transcripts.generate import generate_transcripts
        # generate_transcripts is a pure function of its sizes, and ER's
        # iteration count depends on the mention graph's shape; the seed
        # therefore only renames conversations, which changes every row
        # and the hash partitioning but not the amount of work
        tag = f"s{self.rng.randrange(10**6)}-"
        (generate_transcripts(spark, TURNS, n_convs=CONVS,
                              n_entities=ENTITIES,
                              partitions=SHUFFLE_PARTITIONS)
         .withColumn("conv_id", F.concat(F.lit(tag), "conv_id"))
         .write.parquet(self.input))
        self.expected = expected_counts(self.input)
        self.input_bytes = tree_size(self.input)[0]

    def ops(self, spark, tracer, pass_id):
        from kgloom.transcripts.pipeline import TranscriptPipeline
        k = 0
        while True:
            root = os.path.join(self.dir, f"store-{pass_id}-{k}")
            k += 1
            got = {}

            def fresh(root=root, got=got):
                got["run"] = TranscriptPipeline(
                    spark, root, shuffle_partitions=SHUFFLE_PARTITIONS).run(
                    transcripts=self.input)
                return TURNS

            def check_fresh(root=root, got=got):
                res = got["run"]
                self._record_store(pass_id, root)
                return (res.metrics["turns"] == TURNS
                        and triple_counts(res.triples) == self.expected)

            def resume(root=root, got=got):
                got["resume"] = TranscriptPipeline(
                    spark, root, shuffle_partitions=SHUFFLE_PARTITIONS).run(
                    transcripts=self.input, resume=True)
                return 0

            def check_resume(root=root, got=got):
                same = (got["resume"].metrics["snapshots"]
                        == got["run"].metrics["snapshots"])
                shutil.rmtree(root)
                return same

            yield Op("pipeline_run", fresh, check_fresh, boundary=False)
            yield Op("pipeline_resume", resume, check_resume, timed=False)

    def _record_store(self, pass_id: str, root: str) -> None:
        written = self.written.setdefault(pass_id, [])
        written.append(tree_size(root))
        n = len(written)
        nbytes = sum(b for b, _ in written) / n
        self.extras.update({
            "tables.bytes_written": nbytes,
            "tables.files_written": sum(f for _, f in written) / n,
            "tables.write_amp": nbytes / self.input_bytes,
        })

