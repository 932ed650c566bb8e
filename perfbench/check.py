"""Output check for the reference-job benchmark, run outside the timed part.

Two kinds of checks over the targets a run leaves on disk:

* structural invariants on every target: merge keys unique and non-NULL,
  children reference existing parents, one document per (id, index) and
  none for a deleted entity, partitions exist exactly for organizations
  that have documents;
* row multisets: the selected columns of each table, compared by count
  and by an order-independent hash against what the generator's truth
  states in closed form (no engine run is involved).

``negative_control`` corrupts loaded targets in memory (a dropped row, a
duplicated key) and requires the check to fail on each.
"""

import collections
import hashlib
import json
import os

import pyarrow.parquet as pq

import gen


def read_dir(path):
    """Rows of a Spark-written parquet directory, with `k=v` partition
    directories turned into columns (marker and _SUCCESS files skipped)."""
    rows = []
    if not os.path.isdir(path):
        return rows
    for root, _, names in os.walk(path):
        part = {}
        rel = os.path.relpath(root, path)
        if rel != ".":
            for seg in rel.split(os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    part[k] = v
        for n in sorted(names):
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                for r in pq.read_table(os.path.join(root, n)).to_pylist():
                    r.update(part)
                    rows.append(r)
    return rows


def partitions(path):
    if not os.path.isdir(path):
        return set()
    return {n.split("=", 1)[1] for n in os.listdir(path) if n.startswith("index=")}


# table -> (merge keys, unique?) ; unique keys for PK tables, entity key for
# key-clear tables (whose rows must then be distinct as whole rows)
KEYS = {
    "graph.organization": (["id"], True),
    "graph.intellectual_entity": (["id"], True),
    "graph.schema_license": (["intellectual_entity_id"], False),
    "graph.mh_fragment_identifier": (["intellectual_entity_id"], False),
    "graph.schema_keywords": (["intellectual_entity_id"], False),
    "graph.collection": (["id"], True),
    "graph.schema_is_part_of": (["intellectual_entity_id"], False),
    "graph.schema_mentions": (["intellectual_entity_id"], False),
    "graph.iiif": (["intellectual_entity_id"], False),
    "bench.customer": (["subject"], True),
    "bench.orders": (["o_custkey"], False),
    "bench.lineitem": (["l_custkey"], False),
    "bench.nation": (["subject"], True),
}

# (child table, fk, parent table, parent key)
REFS = [
    ("graph.schema_license", "intellectual_entity_id", "graph.intellectual_entity", "id"),
    ("graph.mh_fragment_identifier", "intellectual_entity_id", "graph.intellectual_entity", "id"),
    ("graph.schema_keywords", "intellectual_entity_id", "graph.intellectual_entity", "id"),
    ("graph.schema_is_part_of", "intellectual_entity_id", "graph.intellectual_entity", "id"),
    ("graph.schema_is_part_of", "collection_id", "graph.collection", "id"),
    ("graph.schema_mentions", "intellectual_entity_id", "graph.intellectual_entity", "id"),
    ("graph.iiif", "intellectual_entity_id", "graph.intellectual_entity", "id"),
    ("bench.orders", "o_custkey", "bench.customer", "c_custkey"),
    ("bench.lineitem", "l_orderkey", "bench.orders", "o_orderkey"),
    ("bench.lineitem", "l_custkey", "bench.customer", "c_custkey"),
]

DOC_TABLES = ["bench.customer", "bench.orders", "bench.lineitem", "bench.nation"]


def load(work, workload):
    names = DOC_TABLES if workload == "streaming" else list(KEYS)
    tables = {t: read_dir(os.path.join(work, "targets", t.replace(".", "_")))
              for t in names}
    if workload != "streaming":
        tables["docs"] = read_dir(os.path.join(work, "docs"))
        tables["__partitions"] = partitions(os.path.join(work, "docs"))
    return tables


def expected(t, workload):
    """Closed-form targets from the truth: {table: (columns, Counter)}."""
    live = [e for p, e in t.entities.items() if p not in t.deleted]
    ever = list(t.entities.values())
    exp = {}

    def put(table, cols, rows):
        exp[table] = (cols, collections.Counter(rows))

    put("bench.customer", ["c_custkey", "c_name", "c_mktsegment"],
        [(e["iri"], e["name"], e["org"].upper()) for e in live])
    put("bench.orders", ["o_orderkey", "o_custkey", "o_orderstatus"],
        [(o["key"], e["iri"], o["status"]) for e in live for o in e["orders"]])
    put("bench.lineitem", ["l_orderkey", "l_linenumber", "l_custkey"],
        [(o["key"], li["ln"], e["iri"]) for e in live for o in e["orders"]
         for li in o["lines"]])
    put("bench.nation", ["n_nationkey", "n_name"], list(enumerate(gen.NATIONS)))
    if workload == "streaming":
        return exp
    put("graph.organization", ["id", "org_identifier", "skos_pref_label"],
        [(o["iri"], o["ident"], o["label"]) for o in t.orgs.values()])
    put("graph.intellectual_entity", ["id", "schema_identifier", "schema_name"],
        [(e["iri"], e["ident"], e["name_nl"] or e["name"]) for e in live])

    def lic(e, v):
        return None if e["cfg"] != "newspaper" and v in gen.NULL_IN_AV else v
    put("graph.schema_license", ["intellectual_entity_id", "schema_license"],
        [(e["iri"], lic(e, v)) for e in live for v in e["licenses"]])
    put("graph.mh_fragment_identifier",
        ["intellectual_entity_id", "mh_fragment_identifier", "is_deleted"],
        [(e["iri"], e["pid"], False) for e in live])
    put("graph.schema_keywords", ["intellectual_entity_id", "schema_keywords"],
        [(e["iri"], k) for e in live for k in e["keywords"]])
    refs = {e["collection"] for e in ever}
    put("graph.collection", ["id", "collection_type", "schema_name"],
        [(c, "collection", t.collections[c]) for c in refs])
    put("graph.schema_is_part_of", ["intellectual_entity_id", "type", "collection_id"],
        [(e["iri"], "collection", e["collection"]) for e in live])
    put("graph.schema_mentions", ["id", "intellectual_entity_id", "thing_id"],
        [(e["iri"] + "/schema_mentions/" + gen.md5(m), e["iri"], m)
         for e in live for m in e["mentions"]])
    put("graph.iiif", ["intellectual_entity_id", "iiif_id", "url", "mime"],
        [(e["iri"], e["iri"] + "/iiif", "https://iiif.example/" + e["pid"], "image/jp2")
         for e in live if e["iiif"]])
    put("docs", ["id", "index", "n_children", "maintainer"],
        [(e["iri"], e["org"], len(e["orders"]), t.orgs[e["org"]]["label"])
         for e in live])
    return exp


def project(table, rows, cols):
    if table == "docs":
        return collections.Counter(
            (r["id"], r["index"], r["n_children"],
             json.loads(r["document"]).get("schema_maintainer", {}).get("schema_name"))
            for r in rows)
    return collections.Counter(tuple(r.get(c) for c in cols) for r in rows)


def digest(counter):
    h = hashlib.sha256()
    for row, n in sorted(counter.items(), key=repr):
        h.update(repr((row, n)).encode("utf-8"))
    return h.hexdigest()[:16]


def structural(tables, t):
    errors = []
    for table, (keys, unique) in KEYS.items():
        if table not in tables:
            continue
        rows = tables[table]
        if any(r.get(k) is None for r in rows for k in keys):
            errors.append("%s: NULL merge key" % table)
        if unique:
            seen = collections.Counter(tuple(r.get(k) for k in keys) for r in rows)
        else:
            seen = collections.Counter(tuple(sorted(r.items())) for r in rows)
        dups = sum(1 for n in seen.values() if n > 1)
        if dups:
            errors.append("%s: %d duplicated %s" % (
                table, dups, "keys" if unique else "rows"))
    for child, fk, parent, pkey in REFS:
        if child not in tables or parent not in tables:
            continue
        have = {r.get(pkey) for r in tables[parent]}
        orphans = sum(1 for r in tables[child]
                      if r.get(fk) is not None and r.get(fk) not in have)
        if orphans:
            errors.append("%s.%s: %d rows reference no %s" % (child, fk, orphans, parent))
    if "docs" in tables:
        docs = tables["docs"]
        per = collections.Counter((r["id"], r["index"]) for r in docs)
        if any(n > 1 for n in per.values()):
            errors.append("docs: duplicated (id, index)")
        dead = {t.entities[p]["iri"] for p in t.deleted}
        if any(r["id"] in dead for r in docs):
            errors.append("docs: document for a deleted entity")
        with_docs = {r["index"] for r in docs}
        if tables["__partitions"] != with_docs:
            errors.append("docs: partitions %s != orgs with documents %s" % (
                sorted(tables["__partitions"] ^ with_docs)[:4], len(with_docs)))
        orgs_live = {e["org"] for p, e in t.entities.items() if p not in t.deleted}
        if with_docs != orgs_live:
            errors.append("docs: orgs with documents differ from orgs with entities")
    return errors


def check(tables, t, workload):
    """Returns (errors, {table: [rows, digest]})."""
    errors = structural(tables, t)
    summary = {}
    for table, (cols, want) in expected(t, workload).items():
        got = project(table, tables.get(table, []), cols)
        summary[table] = [sum(got.values()), digest(got)]
        if got != want:
            missing = sum((want - got).values())
            extra = sum((got - want).values())
            errors.append("%s: %d rows, expected %d (%d missing, %d unexpected)" % (
                table, sum(got.values()), sum(want.values()), missing, extra))
    return errors, summary


def negative_control(tables, t, workload):
    """Each corruption must make the check fail. Returns the corruptions
    the check missed."""
    missed = []
    victim = "bench.customer"
    corruptions = {
        "dropped row": lambda rows: rows[1:],
        "duplicated key": lambda rows: rows + rows[:1],
    }
    for name, corrupt in corruptions.items():
        bad = dict(tables)
        bad[victim] = corrupt(list(tables[victim]))
        if not check(bad, t, workload)[0]:
            missed.append(name)
    return missed
