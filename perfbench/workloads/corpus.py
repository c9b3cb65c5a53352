"""corpus_small: about a hundred tiny mapping documents, each run through
``kgloom.cli.process_file(path, execute=True, spark)`` — the reference
translator's folder mode, and the shape of the RML test-case corpus the
paper evaluates on.

Per document the frontends, plan serialisation, the binder's eager jobs,
Catalyst planning and per-job scheduling dominate; bulk execution does
almost nothing.  Five document kinds rotate (RML over CSV with a join and
an FnO call, RML over JSON with blank nodes, RML over XML, ShExML over CSV
and over JSON); every third document also carries a SPARQL SELECT that is
run with ``sparql_select`` over the document's output.  Rotation periods 5
and 3 are coprime, so any 15 consecutive documents hold every
(kind, SPARQL) pair once.

The generator writes each document's expected N-Quads and SPARQL rows from
its own rows and the RML/ShExML semantics; kgloom never produces them.
"""

from __future__ import annotations

import json
import os
from urllib.parse import quote

from tracing import NullTracer

from . import Op, Workload

DOCS = 100  # a multiple of len(KINDS)
MIN_ROWS, MAX_ROWS = 10, 50
KINDS = ("rml_csv", "rml_json", "rml_xml", "shexml_csv", "shexml_json")

EX = "http://ex.org/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
XSD_INT = "<http://www.w3.org/2001/XMLSchema#integer>"
FIRST = ["Ann", "Bo", "Carla", "Dmitri", "Eve", "Farid", "Gu", "Hana"]
LAST = ["Smith", "Okafor", "Nguyen", "Garcia", "Muller", "Rossi", "Kim"]
CITIES = ["New York", "Rio de Janeiro", "Oslo", "Cape Town", "Kyoto",
          "San Jose", "Lima"]
STREETS = ["Main St", "High Rd", "Elm Ave", "Park Ln", "Bay Dr"]

RML_PREFIXES = """\
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix fnml: <http://semweb.mmlab.be/ns/fnml#> .
@prefix fno: <https://w3id.org/function/ontology#> .
@prefix grel: <http://users.ugent.be/~bjdmeest/function/grel.ttl#> .
@prefix ex: <http://ex.org/> .
"""

RML_CSV = RML_PREFIXES + """
<#Person> a rr:TriplesMap;
  rml:logicalSource [ rml:source "people.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/person/{name}"; rr:class ex:Person ];
  rr:predicateObjectMap [ rr:predicate ex:name;
    rr:objectMap [ rml:reference "name"; rr:language "en" ] ];
  rr:predicateObjectMap [ rr:predicate ex:age;
    rr:objectMap [ rml:reference "age"; rr:datatype xsd:integer ] ];
  rr:predicateObjectMap [ rr:predicate ex:shout;
    rr:objectMap [ fnml:functionValue [
        rr:predicateObjectMap [ rr:predicate fno:executes;
                                rr:objectMap [ rr:constant grel:toUpperCase ] ];
        rr:predicateObjectMap [ rr:predicate grel:valueParameter;
                                rr:objectMap [ rml:reference "name" ] ] ];
      rr:termType rr:Literal ] ];
  rr:predicateObjectMap [ rr:predicate ex:livesIn;
    rr:objectMap [ rr:parentTriplesMap <#City>;
      rr:joinCondition [ rr:child "city_id"; rr:parent "cid" ] ] ] .
<#City> a rr:TriplesMap;
  rml:logicalSource [ rml:source "cities.csv"; rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://ex.org/city/{cname}" ];
  rr:predicateObjectMap [ rr:predicate ex:code;
    rr:objectMap [ rml:reference "cid" ] ] .
"""

# addresses come from their own file: two maps over one JSON source and
# iterator share one bound source in kgloom, which then lacks the second
# map's fields
RML_JSON = RML_PREFIXES + """
<#Person> a rr:TriplesMap;
  rml:logicalSource [ rml:source "people.json"; rml:referenceFormulation ql:JSONPath;
                      rml:iterator "$.people[*]" ];
  rr:subjectMap [ rr:template "http://ex.org/j/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:name;
    rr:objectMap [ rml:reference "name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:age;
    rr:objectMap [ rml:reference "age"; rr:datatype xsd:integer ] ];
  rr:predicateObjectMap [ rr:predicate ex:address;
    rr:objectMap [ rr:template "addr{id}"; rr:termType rr:BlankNode ] ] .
<#Address> a rr:TriplesMap;
  rml:logicalSource [ rml:source "addresses.json"; rml:referenceFormulation ql:JSONPath;
                      rml:iterator "$.addresses[*]" ];
  rr:subjectMap [ rr:template "addr{id}"; rr:termType rr:BlankNode ];
  rr:predicateObjectMap [ rr:predicate ex:street;
    rr:objectMap [ rml:reference "street" ] ] .
"""

RML_XML = RML_PREFIXES + """
<#Person> a rr:TriplesMap;
  rml:logicalSource [ rml:source "people.xml"; rml:referenceFormulation ql:XPath;
                      rml:iterator "//person" ];
  rr:subjectMap [ rr:template "http://ex.org/x/{@id}"; rr:class ex:Person ];
  rr:predicateObjectMap [ rr:predicate ex:name;
    rr:objectMap [ rml:reference "name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:age;
    rr:objectMap [ rml:reference "age"; rr:datatype xsd:integer ] ] .
"""

SHEXML = """\
PREFIX : <http://ex.org/>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
SOURCE people_src <{file}>
ITERATOR person_it <{iterator}> {{
    FIELD id <id>
    FIELD name <name>
    FIELD age <age>
}}
EXPRESSION people <people_src.person_it>
:Person :[people.id] {{
    :name [people.name] @en ;
    :age [people.age] xsd:integer ;
}}
"""

QUERY_AGE = ("SELECT ?s ?n ?a WHERE { ?s <http://ex.org/name> ?n . "
             "?s <http://ex.org/age> ?a }")


def _iri(s: str) -> str:
    return f"<{s}>"


def _enc(v) -> str:
    return quote(str(v), safe="")


def _people(rng, n: int) -> list[dict]:
    rows = []
    for i in range(1, n + 1):
        first, last = rng.choice(FIRST), rng.choice(LAST)
        name = f"{last}, {first} {i}" if rng.random() < 0.3 else \
            f"{first} {last} {i}"
        rows.append({"id": i, "name": name, "age": rng.randint(18, 90),
                     "city_id": rng.randint(1, len(CITIES) + 2),
                     "street": f"{rng.randint(1, 999)} {rng.choice(STREETS)}"})
    return rows


def _csv_field(v) -> str:
    v = str(v)
    return f'"{v}"' if "," in v else v


def _write(path: str, text: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def make_document(d: str, kind: str, rows: list[dict]):
    """Write one document and its inputs under ``d``; return (mapping path,
    expected N-Quads lines)."""
    os.makedirs(d, exist_ok=True)
    exp = []
    if kind == "rml_csv":
        _write(os.path.join(d, "people.csv"), "id,name,age,city_id\n" + "".join(
            f"{r['id']},{_csv_field(r['name'])},{r['age']},{r['city_id']}\n"
            for r in rows))
        _write(os.path.join(d, "cities.csv"), "cid,cname\n" + "".join(
            f"{i},{c}\n" for i, c in enumerate(CITIES, 1)))
        for i, c in enumerate(CITIES, 1):
            exp.append(f"{_iri(EX + 'city/' + _enc(c))} "
                       f"{_iri(EX + 'code')} \"{i}\" .")
        for r in rows:
            s = _iri(EX + "person/" + _enc(r["name"]))
            exp += [f"{s} {RDF_TYPE} {_iri(EX + 'Person')} .",
                    f"{s} {_iri(EX + 'name')} \"{r['name']}\"@en .",
                    f"{s} {_iri(EX + 'age')} \"{r['age']}\"^^{XSD_INT} .",
                    f"{s} {_iri(EX + 'shout')} \"{r['name'].upper()}\" ."]
            if r["city_id"] <= len(CITIES):
                city = CITIES[r["city_id"] - 1]
                exp.append(f"{s} {_iri(EX + 'livesIn')} "
                           f"{_iri(EX + 'city/' + _enc(city))} .")
        path = os.path.join(d, "mapping.ttl")
        _write(path, RML_CSV)
    elif kind == "rml_json":
        _write(os.path.join(d, "people.json"), json.dumps({"people": [
            {"id": str(r["id"]), "name": r["name"], "age": str(r["age"])}
            for r in rows]}))
        _write(os.path.join(d, "addresses.json"), json.dumps({"addresses": [
            {"id": str(r["id"]), "street": r["street"]} for r in rows]}))
        for r in rows:
            s, b = _iri(f"{EX}j/{r['id']}"), f"_:addr{r['id']}"
            exp += [f"{s} {_iri(EX + 'name')} \"{r['name']}\" .",
                    f"{s} {_iri(EX + 'age')} \"{r['age']}\"^^{XSD_INT} .",
                    f"{s} {_iri(EX + 'address')} {b} .",
                    f"{b} {_iri(EX + 'street')} \"{r['street']}\" ."]
        path = os.path.join(d, "mapping.ttl")
        _write(path, RML_JSON)
    elif kind == "rml_xml":
        _write(os.path.join(d, "people.xml"), "<people>" + "".join(
            f"<person id=\"{r['id']}\"><name>{r['name']}</name>"
            f"<age>{r['age']}</age></person>" for r in rows) + "</people>")
        for r in rows:
            s = _iri(f"{EX}x/{r['id']}")
            exp += [f"{s} {RDF_TYPE} {_iri(EX + 'Person')} .",
                    f"{s} {_iri(EX + 'name')} \"{r['name']}\" .",
                    f"{s} {_iri(EX + 'age')} \"{r['age']}\"^^{XSD_INT} ."]
        path = os.path.join(d, "mapping.ttl")
        _write(path, RML_XML)
    else:
        if kind == "shexml_csv":
            _write(os.path.join(d, "people.csv"), "id,name,age\n" + "".join(
                f"{r['id']},{_csv_field(r['name'])},{r['age']}\n"
                for r in rows))
            text = SHEXML.format(file="people.csv", iterator="csvperrow")
        else:
            _write(os.path.join(d, "people.json"), json.dumps({"people": [
                {"id": str(r["id"]), "name": r["name"], "age": str(r["age"])}
                for r in rows]}))
            text = SHEXML.format(file="people.json",
                                 iterator="jsonpath: $.people[*]")
        for r in rows:
            s = _iri(f"{EX}{r['id']}")
            exp += [f"{s} {_iri(EX + 'name')} \"{r['name']}\"@en .",
                    f"{s} {_iri(EX + 'age')} \"{r['age']}\"^^{XSD_INT} ."]
        path = os.path.join(d, "mapping.shexml")
        _write(path, text)
    return path, exp


def parse_line(line: str) -> tuple[str, str, str]:
    """(subj, pred, obj) of an N-Triples line without a graph term."""
    s, p, o = line[:-2].split(" ", 2)
    return s, p, o


def canonical(lines) -> list[str]:
    """Sorted lines with blank-node labels replaced by a name derived from
    each node's outgoing triples, so two graphs equal up to blank-node
    renaming compare equal."""
    lines = list(lines)
    out_edges: dict[str, list[str]] = {}
    for line in lines:
        s, p, o = parse_line(line)
        if s.startswith("_:"):
            out_edges.setdefault(s, []).append(f"{p} {o}")
    names = {b: "_:b[" + "|".join(sorted(edges)) + "]"
             for b, edges in out_edges.items()}

    def fix(term: str) -> str:
        return names.get(term, term)
    return sorted(" ".join(fix(t) for t in parse_line(line)) + " ."
                  for line in lines)


def expected_rows(exp_lines) -> list[tuple]:
    """QUERY_AGE's answer over the expected graph (rendered terms)."""
    name, age = {}, {}
    for line in exp_lines:
        s, p, o = parse_line(line)
        if p == _iri(EX + "name"):
            name.setdefault(s, []).append(o)
        elif p == _iri(EX + "age"):
            age.setdefault(s, []).append(o)
    return sorted((s, n, a) for s in name if s in age
                  for n in name[s] for a in age[s])


def run_document(spark, path: str, with_query: bool, tracer):
    """process_file + (optionally) SPARQL over its output; returns
    (output lines, query rows or None)."""
    from kgloom import cli, sparql
    if not cli.process_file(path, True, spark):
        raise RuntimeError(f"process_file rejected {path}")
    stem = os.path.splitext(path)[0]
    with open(stem + ".out.nq", encoding="utf-8") as f:
        lines = [ln.rstrip("\n") for ln in f if ln.strip()]
    if not with_query:
        return lines, None
    quads = spark.createDataFrame(
        [parse_line(ln) + (None,) for ln in lines],
        "subj string, pred string, obj string, graph string")
    # sparql_select is lazy: the span covers the action too
    with tracer.span("sparql.exec", "sparql"):
        rows = sparql.sparql_select(quads, QUERY_AGE,
                                    raw_terms=True).collect()
    return lines, sorted(tuple(r) for r in rows)


class CorpusSmall(Workload):
    UNIT_SECONDS = 5.0  # one document of each kind

    def generate(self):
        self.docs = []
        for i in range(DOCS):
            kind = KINDS[i % len(KINDS)]
            rows = _people(self.rng, self.rng.randint(MIN_ROWS, MAX_ROWS))
            path, exp = make_document(os.path.join(self.dir, f"doc{i:03d}"),
                                      kind, rows)
            query = i % 3 == 0
            self.docs.append((path, canonical(exp),
                              expected_rows(exp) if query else None))
        self.warm_doc = make_document(os.path.join(self.dir, "warm"),
                                      KINDS[0], _people(self.rng, MIN_ROWS))[0]

    def warm(self, spark):
        run_document(spark, self.warm_doc, True, NullTracer())

    def ops(self, spark, tracer, pass_id):
        while True:
            for i, (path, exp, exp_rows) in enumerate(self.docs):
                got = {}

                def run(path=path, query=exp_rows is not None, got=got):
                    got["lines"], got["rows"] = run_document(
                        spark, path, query, tracer)
                    return 1

                def check(exp=exp, exp_rows=exp_rows, got=got):
                    return (canonical(got["lines"]) == exp
                            and got["rows"] == exp_rows)

                # a unit is a whole rotation of kinds, so every run
                # measures the same mix
                yield Op("document", run, check,
                         boundary=(i + 1) % len(KINDS) == 0)

