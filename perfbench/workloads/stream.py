"""stream_fold: micro-batches folded into kgloom's streaming state by
calling the fold functions directly — no triggers, no timers.

One pass folds K batches of transcript triples with
``streaming.validation.validate_batch`` and K batches of documents with
``streaming.neardedup.dedup_batch``, alternating, into fresh state, and
ends with ``read_report`` (and ``read_flags``).  The only workload that
touches ``kgloom.streaming``.  State grows every batch, so a per-batch cost
proportional to total state shows in the later batches.

Inputs are generated in plain Python and written with pyarrow.  Oracles:
the final report equals the SHACL report of the union of all batches,
computed in plain Python (:func:`expected_report`); the near-dup flags
equal the set of documents the generator planted as copies of earlier ones
(the other documents share no word 3-gram, so MinHash-LSH cannot pair
them).
"""

from __future__ import annotations

import os
import shutil

from . import Op, Workload, tree_size

BATCHES = 2
TURNS = 20_000
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "browser", "python", "sql")
DOCS_PER_BATCH = 1_500
WORDS_PER_DOC = 25
VOCABULARY = 50_000
COPY_SHARE = 0.1
KG = "http://kg.example/ontology/"


def shapes():
    from kgloom.ops.reasoning import NodeShape, PropertyShape
    return (NodeShape(
        name="Turn", target_subjects_of=f"<{KG}partOf>",
        properties=(
            PropertyShape(path=f"<{KG}role>", min_count=1, max_count=1,
                          in_values=('"user"', '"assistant"')),
            PropertyShape(path=f"<{KG}text>", min_count=1),
            PropertyShape(path=f"<{KG}mentions>", max_count=1),
        )),)


def generate_documents(rng, batches: int, per_batch: int):
    """[(batch, doc_id, text)] and the ids planted as near-duplicates."""
    docs, planted = [], set()
    for i in range(batches * per_batch):
        doc_id = f"{i:08d}"
        if docs and rng.random() < COPY_SHARE:
            text = rng.choice(docs)[2]
            planted.add(doc_id)
        else:
            text = " ".join(f"w{rng.randrange(VOCABULARY)}"
                            for _ in range(WORDS_PER_DOC))
        docs.append((i // per_batch, doc_id, text))
    return docs, planted


def generate_triples(rng, turns: int) -> list[tuple[int, tuple]]:
    """[(batch, (subj, pred, obj))]: transcript-pipeline-shaped triples in
    the pipeline's vocabulary, each dealt to a random batch.  About 2 % of
    turns have no text (minCount violations) and a quarter of the turns
    mention two entities (maxCount violations); a turn's triples spread
    over batches, so violations appear and are retracted along the way."""
    out = []
    for t in range(turns):
        conv = f"conv-{rng.randrange(turns // 40)}"
        s = f"<http://kg.example/conv/{conv}/turn/{t}>"
        role = ROLES[t % len(ROLES)]
        tri = [(s, f"<{KG}partOf>", f"<http://kg.example/conv/{conv}>"),
               (s, f"<{KG}role>", f'"{role}"')]
        if rng.random() >= 0.02:
            tri.append((s, f"<{KG}text>", f'"turn {t}: {role} speaks"'))
        if role == "tool":
            tri.append((s, f"<{KG}usedTool>",
                        f"<http://kg.example/tool/{rng.choice(TOOLS)}>"))
        for e in rng.sample(range(500), rng.choice((0, 1, 1, 2))):
            tri.append((s, f"<{KG}mentions>",
                        f"<http://kg.example/entity/{e}>"))
        out += [(rng.randrange(BATCHES), x) for x in tri]
    return out


def expected_report(triples) -> list[tuple]:
    """The SHACL report of :func:`shapes` over a set of triples, computed
    in plain Python: (focus, shape, path, constraint, value) rows."""
    triples = set(triples)
    focus = {s for s, p, _ in triples if p == f"<{KG}partOf>"}
    values: dict = {}
    for s, p, o in triples:
        if s in focus:
            values.setdefault((s, p), []).append(o)
    rows = []
    for sh in shapes():
        for f in focus:
            for ps in sh.properties:
                vals = values.get((f, ps.path), [])
                if ps.min_count is not None and len(vals) < ps.min_count:
                    rows.append((f, sh.name, ps.path, "minCount",
                                 str(len(vals))))
                if ps.max_count is not None and len(vals) > ps.max_count:
                    rows.append((f, sh.name, ps.path, "maxCount",
                                 str(len(vals))))
                if ps.in_values is not None:
                    rows += [(f, sh.name, ps.path, "in", v) for v in vals
                             if v not in ps.in_values]
    return sorted(rows)


def write_parquet(path: str, names: list, rows: list, parts: int = 4) -> None:
    """``parts`` files, so Spark reads the batch with one task per core."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    for i in range(parts):
        cols = list(zip(*rows[i::parts]))
        pq.write_table(pa.table({n: pa.array(c, pa.string())
                                 for n, c in zip(names, cols)}),
                       os.path.join(path, f"part-{i}.parquet"))


class StreamFold(Workload):
    UNIT_SECONDS = 10.0  # a pass: every batch folded, then the report

    def generate(self):
        self.triples = generate_triples(self.rng, TURNS)
        self.docs, self.planted = generate_documents(
            self.rng, BATCHES, DOCS_PER_BATCH)
        self.expected_report = expected_report(t for _, t in self.triples)
        self.tri_rows = [0] * BATCHES
        for k, _ in self.triples:
            self.tri_rows[k] += 1
        self.tri_path = os.path.join(self.dir, "triples")
        self.doc_path = os.path.join(self.dir, "docs")
        for k in range(BATCHES):
            write_parquet(f"{self.tri_path}/batch={k}",
                          ["subj", "pred", "obj"],
                          [t for b, t in self.triples if b == k])
            write_parquet(f"{self.doc_path}/batch={k}", ["doc_id", "text"],
                          [(d, x) for b, d, x in self.docs if b == k])
        self.written: dict[str, list] = {}

    def warm(self, spark):
        from kgloom.streaming import neardedup, validation
        state = os.path.join(self.dir, "warm-state")
        tri = spark.createDataFrame(
            [t for _, t in self.triples[:50]],
            "subj string, pred string, obj string")
        docs = spark.createDataFrame(
            [(d, t) for _, d, t in self.docs[:20]],
            "doc_id string, text string")
        validation.validate_batch(spark, state + "/shacl", tri, 0, shapes())
        neardedup.dedup_batch(spark, state + "/dedup", docs, 0)
        shutil.rmtree(state)

    def prepare(self, spark):
        self.tri_batches = [
            spark.read.schema("subj string, pred string, obj string")
            .parquet(f"{self.tri_path}/batch={k}") for k in range(BATCHES)]
        self.doc_batches = [
            spark.read.schema("doc_id string, text string")
            .parquet(f"{self.doc_path}/batch={k}") for k in range(BATCHES)]

    def ops(self, spark, tracer, pass_id):
        from kgloom.streaming import neardedup, validation
        p = 0
        while True:
            state = os.path.join(self.dir, f"state-{pass_id}-{p}")
            p += 1
            shacl, dedup = state + "/shacl", state + "/dedup"
            for k in range(BATCHES):
                def fold_shacl(k=k):
                    validation.validate_batch(spark, shacl,
                                              self.tri_batches[k], k, shapes())
                    return self.tri_rows[k]

                def fold_dedup(k=k):
                    neardedup.dedup_batch(spark, dedup, self.doc_batches[k], k)
                    return DOCS_PER_BATCH

                def wrote_shacl(k=k):
                    return self._record(pass_id, shacl, [f"slice/v={k}",
                                                         f"metrics/batch={k}"])

                def wrote_dedup(k=k):
                    return self._record(pass_id, dedup, [f"flags/batch={k}",
                                                         f"bands/batch={k}"])

                yield Op("shacl_fold", fold_shacl, wrote_shacl,
                         boundary=False)
                yield Op("neardedup_fold", fold_dedup, wrote_dedup,
                         boundary=False)
            got = {}

            def report(shacl=shacl, dedup=dedup, got=got):
                with tracer.span("ops.shacl_report", "ops"):
                    rows = validation.read_report(spark, shacl,
                                                  shapes()).collect()
                got["report"] = sorted(tuple(r) for r in rows)
                with tracer.span("streaming.read_flags", "streaming"):
                    flags = neardedup.read_flags(spark, dedup).collect()
                got["dups"] = {r["doc_id"] for r in flags if r["is_dup"]}
                return 0

            def check(state=state, got=got):
                self.extras["streaming.state_dirs"] = sum(
                    len(dirs) for _, dirs, _ in os.walk(state))
                shutil.rmtree(state)
                return (got["report"] == self.expected_report
                        and got["dups"] == self.planted)

            yield Op("report", report, check, timed=False)

    def _record(self, pass_id: str, state: str, subdirs: list) -> bool:
        """Bytes this fold wrote; the fold itself is checked by the report."""
        nbytes = sum(tree_size(os.path.join(state, s))[0] for s in subdirs)
        written = self.written.setdefault(pass_id, [])
        written.append((os.path.basename(state), nbytes))
        shacl = [b for kind, b in written if kind == "shacl"]
        self.extras["streaming.state_bytes_per_batch"] = \
            sum(b for _, b in written) / len(written)
        self.extras["streaming.state_bytes_growth"] = shacl[-1] / shacl[0]
        return True
