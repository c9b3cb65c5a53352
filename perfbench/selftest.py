"""Self-test of the benchmark's oracles and event-log parser; no Spark.

    python3 perfbench/selftest.py

Each oracle must accept the output it expects and reject the same output
with one line (or one count) corrupted.  The event-log parser, run on a
small recorded log, must give the job, task, shuffle and spill figures
that Spark itself reported for that log (``fixtures/eventlog.expected.json``,
taken from statusTracker and the stages' own accumulators when the log was
recorded).  Exits non-zero on the first failure.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from tracing import parse_event_log, spark_figures  # noqa: E402
from workloads import bulk, corpus, line_digest, pipeline, stream  # noqa: E402


def corrupt(lines: list[str], rng) -> list[str]:
    out = list(lines)
    i = rng.randrange(len(out))
    out[i] = out[i].replace('"', "'", 1) if '"' in out[i] \
        else out[i].replace(">", "x>", 1)
    return out


def check(name: str, ok: bool) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {name}")
    if not ok:
        sys.exit(1)


def test_bulk(rng) -> None:
    lines = bulk.expected_lines(bulk.generate_tables(rng, 5))
    shuffled = rng.sample(lines, len(lines))
    check("bulk_rml: digest is order-independent",
          line_digest(shuffled) == line_digest(lines))
    check("bulk_rml: one corrupted line fails the digest",
          line_digest(corrupt(lines, rng)) != line_digest(lines))
    check("bulk_rml: one missing line fails the digest",
          line_digest(lines[1:]) != line_digest(lines))


def test_corpus(rng, tmp: str) -> None:
    for kind in corpus.KINDS:
        _path, exp = corpus.make_document(os.path.join(tmp, kind), kind,
                                          corpus._people(rng, 12))
        renamed = [ln.replace("_:addr", "_:node") for ln in exp]
        check(f"corpus_small/{kind}: blank-node renaming compares equal",
              corpus.canonical(renamed) == corpus.canonical(exp))
        check(f"corpus_small/{kind}: one corrupted line fails",
              corpus.canonical(corrupt(exp, rng)) != corpus.canonical(exp))
        rows = corpus.expected_rows(exp)
        check(f"corpus_small/{kind}: one corrupted SPARQL row fails",
              rows != rows[:-1] + [(rows[-1][0], rows[-1][1], '"0"')])


def test_pipeline(tmp: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(tmp, "turns")
    os.makedirs(d)
    texts = ["turn 0: user discusses Entity_7 via chat",
             "turn 1: assistant discusses entity 7 and also Entity_7 via x",
             "turn 2: tool discusses E-12 and also Entity_3 via sql",
             "turn 3: user discusses nothing"]
    pq.write_table(pa.table({
        "conv_id": ["c-1"] * 4, "turn_idx": [0, 1, 2, 3],
        "role": ["user", "assistant", "tool", "user"], "text": texts,
        "tool": [None, None, "sql", None]}), os.path.join(d, "p.parquet"))
    kg = pipeline.KG
    want = {f"<{kg}partOf>": 4, f"<{kg}role>": 4, f"<{kg}text>": 4,
            f"<{kg}usedTool>": 1, f"<{kg}mentions>": 4}
    got = pipeline.expected_counts(d)
    check("pipeline_transcripts: DuckDB oracle counts a hand-made table",
          got == want)
    check("pipeline_transcripts: one wrong count fails",
          dict(got, **{f"<{kg}mentions>": 5}) != want)


def test_stream(rng) -> None:
    docs, planted = stream.generate_documents(rng, 2, 300)
    seen: dict = {}
    clash = False
    for _batch, doc_id, text in docs:
        if doc_id in planted:
            continue
        words = text.split()
        for i in range(len(words) - 2):
            gram = " ".join(words[i:i + 3])
            clash |= gram in seen and seen[gram] != doc_id
            seen[gram] = doc_id
    check("stream_fold: unplanted documents share no word 3-gram", not clash)
    check("stream_fold: planted copies exist", bool(planted))
    flagged = set(planted)
    flagged.discard(min(planted))
    check("stream_fold: one missed duplicate fails", flagged != planted)


def test_event_log() -> None:
    import json
    fixtures = os.path.join(HERE, "fixtures")
    log = parse_event_log(os.path.join(fixtures, "eventlog.jsonl"))
    with open(os.path.join(fixtures, "eventlog.expected.json")) as f:
        want = json.load(f)
    groups = {j["group"] for j in log["jobs"].values()}
    fig = spark_figures(log, groups)
    for key in ("jobs", "tasks", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes"):
        check(f"event log: {key} = {want[key]}", fig[key] == want[key])
    check("event log: per-group job counts",
          {g: spark_figures(log, {g})["jobs"] for g in want["groups"]}
          == want["groups"])


def test_benchmark_json() -> None:
    import json

    import layers
    import run
    from workloads import WORKLOADS
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    check("BENCHMARK.json: workloads exist",
          {w["name"] for w in bench["workloads"]} <= set(WORKLOADS))
    printed = run.e2e_metrics(
        [{"seconds": 1.0, "items": 1, "timed": True}], [1.0], 1.0)
    check("BENCHMARK.json: end_to_end = what --trace 0 prints",
          {m["name"]: m["unit"] for m in bench["end_to_end"]}
          == {k: v["unit"] for k, v in printed.items()})
    check("BENCHMARK.json: per_layer = what --trace 1 prints",
          {m["name"]: m["unit"] for m in bench["per_layer"]}
          == layers.PER_LAYER)


def main() -> int:
    rng = random.Random(7)
    work = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        test_bulk(rng)
        test_corpus(rng, tmp)
        test_pipeline(tmp)
        test_stream(rng)
        test_event_log()
        test_benchmark_json()
    finally:
        shutil.rmtree(tmp)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
