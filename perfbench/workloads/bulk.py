"""bulk_rml: one RML mapping over TPC-H-shaped customer, orders and
lineitem CSVs, written by Spark as N-Quads text files.

Execution-bound: term construction, the two referencing-object joins and
the serializer's distinct shuffle do the work; the frontends cost
milliseconds.  The oracle rebuilds every expected line in plain Python
from the generated rows and the RML spec, and compares an order-independent
digest with the part files Spark wrote.
"""

from __future__ import annotations

import csv
import glob
import os
from urllib.parse import quote

from tracing import NullTracer

from . import Op, Workload, line_digest

#: customers; orders and lineitems scale with it.  One mapping run is
#: about 70k triples and 1.5 s on 4 cores
CUSTOMERS = 250
ORDERS_PER_CUSTOMER = 10
MAX_LINES_PER_ORDER = 7
WARM_CUSTOMERS = 10

T = "http://tpch.example/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
XSD = "http://www.w3.org/2001/XMLSchema#"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD GOODS",
            "MACHINERY"]
FIRST = ["Ann", "Bo", "Carla", "Dmitri", "Eve", "Farid", "Gu", "Hana",
         "Ivo", "June"]
LAST = ["Smith", "Okafor", "Nguyen", "Garcia", "Muller", "Rossi", "Kim",
        "Silva", "Novak", "Haddad"]
WORDS = ["carefully", "final", "deposits", "quickly", "regular", "accounts",
         "sleep", "blithely", "express", "ideas", "pending", "furiously"]
MODES = ["AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "REG AIR", "FOB"]

MAPPING = """\
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix t: <http://tpch.example/> .

<#Customer> a rr:TriplesMap;
  rml:logicalSource [ rml:source "customer.csv";
                      rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://tpch.example/customer/{c_name}";
                  rr:class t:Customer ];
  rr:predicateObjectMap [ rr:predicate t:name;
    rr:objectMap [ rml:reference "c_name" ] ];
  rr:predicateObjectMap [ rr:predicate t:acctbal;
    rr:objectMap [ rml:reference "c_acctbal"; rr:datatype xsd:decimal ] ];
  rr:predicateObjectMap [ rr:predicate t:comment;
    rr:objectMap [ rml:reference "c_comment"; rr:language "en" ] ];
  rr:predicateObjectMap [ rr:predicate t:segment;
    rr:objectMap [ rr:template "http://tpch.example/segment/{c_mktsegment}" ] ] .

<#Order> a rr:TriplesMap;
  rml:logicalSource [ rml:source "orders.csv";
                      rml:referenceFormulation ql:CSV ];
  rr:subjectMap [ rr:template "http://tpch.example/order/{o_orderkey}";
                  rr:class t:Order ];
  rr:predicateObjectMap [ rr:predicate t:status;
    rr:objectMap [ rml:reference "o_orderstatus" ] ];
  rr:predicateObjectMap [ rr:predicate t:totalprice;
    rr:objectMap [ rml:reference "o_totalprice"; rr:datatype xsd:decimal ] ];
  rr:predicateObjectMap [ rr:predicate t:orderdate;
    rr:objectMap [ rml:reference "o_orderdate"; rr:datatype xsd:date ] ];
  rr:predicateObjectMap [ rr:predicate t:customer;
    rr:objectMap [ rr:parentTriplesMap <#Customer>;
      rr:joinCondition [ rr:child "o_custkey"; rr:parent "c_custkey" ] ] ] .

<#Lineitem> a rr:TriplesMap;
  rml:logicalSource [ rml:source "lineitem.csv";
                      rml:referenceFormulation ql:CSV ];
  rr:subjectMap [
    rr:template "http://tpch.example/lineitem/{l_orderkey}/{l_linenumber}";
    rr:class t:Lineitem ];
  rr:predicateObjectMap [ rr:predicate t:quantity;
    rr:objectMap [ rml:reference "l_quantity"; rr:datatype xsd:integer ] ];
  rr:predicateObjectMap [ rr:predicate t:extendedprice;
    rr:objectMap [ rml:reference "l_extendedprice"; rr:datatype xsd:decimal ] ];
  rr:predicateObjectMap [ rr:predicate t:shipmode;
    rr:objectMap [ rml:reference "l_shipmode" ] ];
  rr:predicateObjectMap [ rr:predicate t:order;
    rr:objectMap [ rr:parentTriplesMap <#Order>;
      rr:joinCondition [ rr:child "l_orderkey"; rr:parent "o_orderkey" ] ] ] .
"""


def iri(path: str) -> str:
    return f"<{T}{path}>"


def enc(value: str) -> str:
    """RML template values are percent-encoded as IRI-safe (RFC 3986
    unreserved characters stay)."""
    return quote(value, safe="")


def lit(value: str, dtype: str | None = None, lang: str | None = None) -> str:
    if dtype:
        return f'"{value}"^^<{XSD}{dtype}>'
    if lang:
        return f'"{value}"@{lang}'
    return f'"{value}"'


def generate_tables(rng, customers: int) -> dict[str, list[list[str]]]:
    cust, orders, items = [], [], []
    for c in range(1, customers + 1):
        name = f"Customer {rng.choice(LAST)}, {rng.choice(FIRST)} {c:06d}"
        comment = ", ".join(" ".join(rng.choices(WORDS, k=3))
                            for _ in range(2))
        cust.append([str(c), name, f"{rng.uniform(-999, 9999):.2f}",
                     rng.choice(SEGMENTS), comment])
    for o in range(1, customers * ORDERS_PER_CUSTOMER + 1):
        orders.append([str(o), str(rng.randint(1, customers)),
                       rng.choice("FOP"), f"{rng.uniform(900, 500000):.2f}",
                       f"199{rng.randint(2, 8)}-{rng.randint(1, 12):02d}-"
                       f"{rng.randint(1, 28):02d}"])
        for ln in range(1, rng.randint(1, MAX_LINES_PER_ORDER) + 1):
            items.append([str(o), str(ln), str(rng.randint(1, 50)),
                          f"{rng.uniform(900, 100000):.2f}",
                          rng.choice(MODES)])
    return {"customer": cust, "orders": orders, "lineitem": items}


HEADERS = {
    "customer": ["c_custkey", "c_name", "c_acctbal", "c_mktsegment",
                 "c_comment"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate"],
    "lineitem": ["l_orderkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_shipmode"],
}


def expected_lines(tables) -> list[str]:
    """Every N-Quads line the mapping must produce, from the rows alone."""
    out = []
    cust_iri = {}
    for key, name, bal, seg, comment in tables["customer"]:
        s = iri("customer/" + enc(name))
        cust_iri[key] = s
        out += [f"{s} {RDF_TYPE} {iri('Customer')} .",
                f"{s} {iri('name')} {lit(name)} .",
                f"{s} {iri('acctbal')} {lit(bal, 'decimal')} .",
                f"{s} {iri('comment')} {lit(comment, lang='en')} .",
                f"{s} {iri('segment')} {iri('segment/' + enc(seg))} ."]
    for key, cust, status, price, date in tables["orders"]:
        s = iri("order/" + enc(key))
        out += [f"{s} {RDF_TYPE} {iri('Order')} .",
                f"{s} {iri('status')} {lit(status)} .",
                f"{s} {iri('totalprice')} {lit(price, 'decimal')} .",
                f"{s} {iri('orderdate')} {lit(date, 'date')} .",
                f"{s} {iri('customer')} {cust_iri[cust]} ."]
    for order, line, qty, price, mode in tables["lineitem"]:
        s = iri(f"lineitem/{enc(order)}/{enc(line)}")
        out += [f"{s} {RDF_TYPE} {iri('Lineitem')} .",
                f"{s} {iri('quantity')} {lit(qty, 'integer')} .",
                f"{s} {iri('extendedprice')} {lit(price, 'decimal')} .",
                f"{s} {iri('shipmode')} {lit(mode)} .",
                f"{s} {iri('order')} {iri('order/' + enc(order))} ."]
    return out


def write_inputs(d: str, tables) -> None:
    os.makedirs(d, exist_ok=True)
    for name, rows in tables.items():
        with open(os.path.join(d, name + ".csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(HEADERS[name])
            w.writerows(rows)
    with open(os.path.join(d, "mapping.ttl"), "w") as f:
        f.write(MAPPING)


def written_lines(out_dir: str):
    for part in glob.glob(os.path.join(out_dir, "part-*")):
        with open(part, encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if line:
                    yield line


def run_mapping(spark, d: str, tracer) -> None:
    """``run_rml`` (compile → bind → sinks → union distinct), then Spark
    writes the N-Quads text files; nothing is collected.

    Not ``rml:logicalTarget`` file sinks: kgloom compiles a TriplesMap with
    a referencing object map into two sinks on its target's path, each
    written with mode overwrite, so the second erases the first."""
    from kgloom import engine
    from kgloom.exec.binder import to_nquads_lines
    with open(os.path.join(d, "mapping.ttl"), encoding="utf-8") as f:
        df = engine.run_rml(spark, f.read(), base_dir=d)
    # the DataFrame sink is lazy: this write is where the plan executes
    with tracer.span("exec.sink", "exec"):
        to_nquads_lines(df).write.mode("overwrite").text(
            os.path.join(d, "out"))


class BulkRml(Workload):
    UNIT_SECONDS = 2.0  # one mapping run

    def generate(self):
        tables = generate_tables(self.rng, CUSTOMERS)
        self.input = os.path.join(self.dir, "tpch")
        write_inputs(self.input, tables)
        self.expected = line_digest(expected_lines(tables))
        self.warm_dir = os.path.join(self.dir, "warm")
        write_inputs(self.warm_dir, generate_tables(self.rng,
                                                    WARM_CUSTOMERS))

    def warm(self, spark):
        run_mapping(spark, self.warm_dir, NullTracer())

    def ops(self, spark, tracer, pass_id):
        def run():
            run_mapping(spark, self.input, tracer)
            return self.expected[0]

        def check():
            return line_digest(written_lines(
                os.path.join(self.input, "out"))) == self.expected

        while True:
            yield Op("mapping_run", run, check)
