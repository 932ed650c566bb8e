"""Seeded input generator for the reference-job benchmark.

Builds a relational truth (organizations, intellectual entities of the
four entity configs, fragments and files, persons, collections, IIIF
copies, and the customer/orders/lineitem/nation-shaped tables the index
document builder reads), then writes it in the reference's wire formats:

* source-KG quads as Turtle, one document per organization, in the
  vocabularies the eight construct views match;
* view-shaped ``urn:kg-to-postgres:`` quads as N-Triples for the four
  document-builder tables;
* for the streaming workload, view-shaped quads as parquet feed files.

The engine reads only these files. The truth is kept for the output
check (``check.py``), which states the expected targets in closed form.
"""

import hashlib
import os
import random

SCHEMA = "https://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_VALUE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#value"
SKOS_LABEL = "http://www.w3.org/2004/02/skos/core#prefLabel"
ORG = "http://www.w3.org/ns/org#"
ADMS_ID = "http://www.w3.org/ns/adms#identifier"
DCT_DESC = "http://purl.org/dc/terms/description"
FOAF_HOME = "http://xmlns.com/foaf/0.1/homepage"
HA_SECTOR = "https://data.hetarchief.be/ns/organization/sector"
FRAGMENT_PID = "https://data.hetarchief.be/ns/mh/fragmentPid"
DERIVED_FROM = "http://www.w3.org/ns/prov#wasDerivedFrom"
PREMIS = "http://www.loc.gov/premis/rdf/v3/"
EBU = "http://www.ebu.ch/metadata/ontologies/ebucore/ebucore#"
IIIF_COPY = "https://data.hetarchief.be/ns/object/hasIIIFCopy"
MENTION = "https://data.hetarchief.be/ns/mention/"
KG = "urn:kg-to-postgres:"

ENTITY_PREFIX = "https://data.hetarchief.be/id/entity/"
ORG_PREFIX = "https://data.hetarchief.be/id/organization/"

# entity config -> (rdf:type, file MIME type); the four EntityPipeline
# configs (av-audio, av-video, av-complex, newspaper) with disjoint types
CONFIGS = {
    "audio": (SCHEMA + "AudioObject", "audio/mpeg"),
    "video": (SCHEMA + "VideoObject", "video/mp4"),
    "complex": (SCHEMA + "CreativeWork", "video/mp4"),
    "newspaper": (SCHEMA + "Newspaper", "application/xml"),
}
ALLOWED = ["VIAA-PUBLIEK-METADATA-LTD", "VIAA-PUBLIEK-METADATA-ALL",
           "VIAA-INTRA_CP-METADATA-ALL", "VIAA-INTRA_CP-CONTENT",
           "BEZOEKERTOOL-CONTENT", "BEZOEKERTOOL-METADATA-ALL",
           "VIAA-ONDERWIJS"]
# allowed licenses the av-* configs bind to NULL (EntityPipeline.avAudio)
NULL_IN_AV = ["VIAA-PUBLIEK-CONTENT", "Publiek-Domein"]
REVOKED_LICENSE = "VIAA-INTERN"
KEYWORDS = ["archief", "film", "radio", "krant", "oorlog", "sport", "muziek",
            "politiek", "cultuur", "natuur", "haven", "school"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]

BASE_MODIFIED = "2024-01-01T00:00:00"
COLLECTIONS_PER_ORG = 3


def batch_date(i):
    """dateModified of incremental batch i; also that batch's `since`."""
    return "2024-02-%02dT00:00:00" % (i + 1)


def md5(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


# --------------------------------------------------------------- truth

class Truth:
    """Relational truth: orgs, entities (with their whole subgraph and
    document-builder rows), collections, nations."""

    def __init__(self):
        self.orgs = {}        # code -> dict
        self.entities = {}    # pid -> dict
        self.collections = {}  # iri -> name
        self.next_pid = 0
        self.next_order = 1
        self.deleted = set()  # pids removed by the delete flow

    def org_iri(self, code):
        return ORG_PREFIX + code


def new_org(t, rng, code, label):
    t.orgs[code] = {
        "code": code, "iri": t.org_iri(code), "ident": code.upper(),
        "label": label, "desc": "Archief van %s" % label,
        "home": "https://example.org/%s" % code, "sector": rng.choice(
            ["cultuur", "overheid", "media"]),
        "cp": t.org_iri(code) + "/cp", "email": "info@%s.example" % code,
        "addr": t.org_iri(code) + "/addr", "site": t.org_iri(code) + "/site",
        "street": "Straat %d" % rng.randint(1, 200),
        "city": rng.choice(["Gent", "Antwerpen", "Brussel", "Leuven"]),
    }
    for j in range(COLLECTIONS_PER_ORG):
        t.collections["%s/collection/%d" % (t.org_iri(code), j)] = \
            "Collectie %s %d" % (label, j)


def new_orders(t, rng, iri):
    orders = []
    for _ in range(rng.randint(1, 5)):
        ok = t.next_order
        t.next_order += 1
        lines = [{"ln": ln, "part": rng.randint(1, 20000),
                  "rf": rng.choice("RAN"), "ls": rng.choice("OF")}
                 for ln in range(1, rng.randint(1, 4) + 1)]
        orders.append({
            "key": ok, "status": rng.choice(STATUSES),
            "price": round(rng.uniform(900, 450000), 2),
            "date": "199%d-%02d-%02d" % (rng.randint(2, 8), rng.randint(1, 12),
                                         rng.randint(1, 28)),
            "prio": rng.choice(PRIORITIES), "lines": lines})
    return orders


def new_licenses(rng):
    lic = rng.sample(ALLOWED, rng.randint(1, 2))
    if rng.random() < 0.3:  # at most one NULL-mapped license per entity
        lic.append(rng.choice(NULL_IN_AV))
    return sorted(lic)


def new_entity(t, rng, org_code, modified):
    pid = "p%07d" % t.next_pid
    t.next_pid += 1
    cfg = rng.choice(list(CONFIGS))
    iri = ENTITY_PREFIX + pid
    e = {
        "pid": pid, "iri": iri, "cfg": cfg, "org": org_code,
        "modified": modified, "ident": "id-" + pid,
        "name": "Item %s" % pid, "name_nl": None,
        "created": "19%02d-%02d-%02d" % (rng.randint(30, 99), rng.randint(1, 12),
                                         rng.randint(1, 28)),
        "licenses": new_licenses(rng),
        "keywords": sorted(rng.sample(KEYWORDS, rng.randint(1, 3))),
        "roles": [{"iri": iri + "/role/%d" % j,
                   "pred": rng.choice(["creator", "contributor", "publisher"]),
                   "role_name": rng.choice(["regisseur", "auteur", "spreker"]),
                   "thing": iri + "/thing/%d" % j,
                   "thing_name": "Persoon %s-%d" % (pid, j)}
                  for j in range(rng.randint(1, 2))],
        "duration": rng.randint(10, 7200),
        "mentions": [iri + "/mention/%d" % j for j in range(rng.randint(0, 2))],
        "collection": "%s/collection/%d" % (t.org_iri(org_code),
                                            rng.randrange(COLLECTIONS_PER_ORG)),
        "iiif": rng.random() < 0.5,
        "nation": rng.randrange(len(NATIONS)),
        "orders": new_orders(t, rng, iri),
        "tombstoned": False,
    }
    if rng.random() < 0.4:
        e["name_nl"] = "Stuk %s" % pid
    t.entities[pid] = e
    return e


def org_sizes(n_entities, n_orgs):
    """Skewed org sizes; org 0 is tiny so one batch can empty it."""
    weights = [1.0 / (i + 1) for i in range(1, n_orgs)]
    total = sum(weights)
    rest = n_entities - 3
    sizes = [3] + [max(1, int(rest * w / total)) for w in weights]
    sizes[1] += n_entities - sum(sizes)
    return sizes


def base_truth(seed, n_entities, n_orgs=12):
    rng = random.Random(seed)
    t = Truth()
    for o in range(n_orgs):
        new_org(t, rng, "or-%05d" % (o * 7919 % 100000), "Organisatie %d" % o)
    codes = list(t.orgs)
    for code, size in zip(codes, org_sizes(n_entities, n_orgs)):
        for _ in range(size):
            new_entity(t, rng, code, BASE_MODIFIED)
    return t


# ------------------------------------------------------- incremental mix

def make_batches(t, seed, k, touch_frac):
    """Apply k incremental batches to truth t in place; return, per batch,
    the set of touched pids by kind and the org changes. Batch 0 renames
    an organization; batch 1 (batch 0 when k == 1) empties the tiny org."""
    rng = random.Random(seed * 1000003 + 17)
    batches = []
    touched_ever = set()
    codes = list(t.orgs)
    for i in range(k):
        date = batch_date(i)
        live = sorted(p for p in t.entities
                      if p not in t.deleted and p not in touched_ever
                      and t.entities[p]["org"] != codes[0])
        m = max(5, int(len(t.entities) * touch_frac))
        pick = rng.sample(live, min(len(live), m))
        touched_ever.update(pick)
        q = max(1, len(pick) // 5)
        b = {"i": i, "date": date, "scalar": pick[:q], "children": pick[q:2 * q],
             "tombstone": pick[2 * q:3 * q], "revoke": pick[3 * q:4 * q],
             "insert": [], "rename": None, "emptied": None}
        # scalar updates (incl. nl label changes)
        for p in b["scalar"]:
            e = t.entities[p]
            e["name"] = e["name"] + " (rev %d)" % i
            e["name_nl"] = "Stuk %s v%d" % (p, i)
            e["modified"] = date
        # child-set replacements (key-clear): licenses, keywords, orders
        for p in b["children"]:
            e = t.entities[p]
            e["licenses"] = new_licenses(rng)
            e["keywords"] = sorted(rng.sample(KEYWORDS, rng.randint(1, 3)))
            e["orders"] = new_orders(t, rng, e["iri"])
            e["modified"] = date
        for p in b["tombstone"]:
            t.entities[p]["tombstoned"] = True
            t.entities[p]["modified"] = date
        for p in b["revoke"]:
            t.entities[p]["licenses"] = [REVOKED_LICENSE]
            t.entities[p]["modified"] = date
        # inserts into existing orgs
        for _ in range(q):
            e = new_entity(t, rng, rng.choice(codes[1:]), date)
            b["insert"].append(e["pid"])
            touched_ever.add(e["pid"])
        if i == 0:
            code = codes[1 + rng.randrange(len(codes) - 1)]
            t.orgs[code]["label"] = t.orgs[code]["label"] + " hernoemd"
            b["rename"] = code
        if i == min(1, k - 1):
            b["emptied"] = codes[0]
            for p, e in t.entities.items():
                if e["org"] == codes[0] and p not in t.deleted:
                    e["tombstoned"] = True
                    e["modified"] = date
                    b["tombstone"].append(p)
        t.deleted.update(b["tombstone"])
        t.deleted.update(b["revoke"])
        batches.append(b)
    return batches


# ----------------------------------------------------------- serializers

def lit(v, lang=None):
    s = '"' + str(v).replace("\\", "\\\\").replace('"', '\\"') + '"'
    return s + ("@" + lang if lang else "")


def iri(v):
    return "<" + v + ">"


def org_triples(o):
    s = o["iri"]
    return [
        (s, RDF_TYPE, iri(ORG + "Organization")),
        (s, SKOS_LABEL, lit(o["label"], "nl")),
        (s, ADMS_ID, lit(o["ident"])),
        (s, DCT_DESC, lit(o["desc"])),
        (s, FOAF_HOME, iri(o["home"])),
        (s, HA_SECTOR, lit(o["sector"])),
        (s, SCHEMA + "contactPoint", iri(o["cp"])),
        (o["cp"], SCHEMA + "contactType", lit("primary")),
        (o["cp"], SCHEMA + "email", lit(o["email"])),
        (s, ORG + "hasSite", iri(o["site"])),
        (o["site"], ORG + "siteAddress", iri(o["addr"])),
        (o["addr"], SCHEMA + "streetAddress", lit(o["street"])),
        (o["addr"], SCHEMA + "addressLocality", lit(o["city"])),
        (o["addr"], SCHEMA + "addressCountry", lit("BE")),
    ]


def fragment_triples(e):
    f = e["iri"] + "/fragment"
    out = [(f, SCHEMA + "dateModified", lit(e["modified"])),
           (f, FRAGMENT_PID, lit(e["pid"])),
           (f, DERIVED_FROM, iri(e["iri"]))]
    if e["tombstoned"]:
        out.append((f, SCHEMA + "dateDeleted", lit(e["modified"])))
    return out


def entity_triples(t, e):
    s = e["iri"]
    typ, mime = CONFIGS[e["cfg"]]
    out = [(s, RDF_TYPE, iri(typ)),
           (s, SCHEMA + "dateModified", lit(e["modified"])),
           (s, SCHEMA + "identifier", lit(e["ident"])),
           (s, SCHEMA + "name", lit(e["name"])),
           (s, SCHEMA + "maintainer", iri(t.orgs[e["org"]]["iri"])),
           (s, SCHEMA + "dateCreated", lit(e["created"])),
           (s, FRAGMENT_PID, lit(e["pid"])),
           (s, SCHEMA + "isPartOf", iri(e["collection"]))]
    if e["name_nl"]:
        out.append((s, SCHEMA + "name", lit(e["name_nl"], "nl")))
    out += [(s, SCHEMA + "license", lit(v)) for v in e["licenses"]]
    out += [(s, SCHEMA + "keywords", lit(v)) for v in e["keywords"]]
    for r in e["roles"]:
        out += [(s, SCHEMA + r["pred"], iri(r["iri"])),
                (r["iri"], RDF_TYPE, iri(SCHEMA + "Role")),
                (r["iri"], SCHEMA + "roleName", lit(r["role_name"])),
                (r["iri"], SCHEMA + r["pred"], iri(r["thing"])),
                (r["thing"], RDF_TYPE, iri(SCHEMA + "Thing")),
                (r["thing"], SCHEMA + "name", lit(r["thing_name"]))]
    rep, fil = s + "/rep", s + "/file"
    out += [(rep, PREMIS + "represents", iri(s)),
            (rep, SCHEMA + "name", lit("Representatie " + e["pid"], "nl")),
            (rep, EBU + "includes", iri(fil)),
            (fil, EBU + "hasMimeType", lit(mime)),
            (fil, PREMIS + "originalName", lit(e["pid"] + ".bin")),
            (fil, SCHEMA + "duration", lit("PT%dS" % e["duration"])),
            (fil, SCHEMA + "name", lit("Bestand " + e["pid"], "nl"))]
    for j, m in enumerate(e["mentions"]):
        out += [(s, SCHEMA + "mentions", iri(m)),
                (m, SCHEMA + "name", lit("Vermelde %s-%d" % (e["pid"], j))),
                (m, SCHEMA + "birthDate", lit("19%02d-01-01" % (10 + j))),
                (m, EBU + "annotationConfidence", lit("0.%d" % (5 + j))),
                (m, MENTION + "highlight", iri(m + "/hl")),
                (m + "/hl", MENTION + "x", lit("1.5")),
                (m + "/hl", MENTION + "y", lit("2.5"))]
    if e["iiif"]:
        img = s + "/iiif"
        out += [(s, IIIF_COPY, iri(img)),
                (img, PREMIS + "storedAt", iri(img + "/loc")),
                (img + "/loc", RDF_VALUE, lit("https://iiif.example/" + e["pid"])),
                (img, EBU + "hasMimeType", lit("image/jp2"))]
    return out + fragment_triples(e)


def collection_triples(c_iri, name):
    return [(c_iri, RDF_TYPE, iri(SCHEMA + "Collection")),
            (c_iri, SCHEMA + "name", lit(name))]


def turtle_doc(triples):
    """Turtle with predicate lists grouped per subject (`;`)."""
    by_s = {}
    for s, p, o in triples:
        by_s.setdefault(s, []).append((p, o))
    lines = ["@prefix schema: <%s> ." % SCHEMA, ""]
    for s, pos in by_s.items():
        parts = []
        for p, o in pos:
            pp = "a" if p == RDF_TYPE else (
                "schema:" + p[len(SCHEMA):] if p.startswith(SCHEMA) else iri(p))
            parts.append("%s %s" % (pp, o))
        lines.append("%s %s ." % (iri(s), " ;\n    ".join(parts)))
    return "\n".join(lines) + "\n"


def doc_rows(e):
    """View-shaped rows of the four document-builder tables for entity e:
    (subject, table, {column: value})."""
    o = e["org"]
    rows = [(e["iri"], "bench.customer", {
        "c_custkey": e["iri"], "c_name": e["name"], "c_nationkey": e["nation"],
        "c_mktsegment": o.upper()})]
    for od in e["orders"]:
        rows.append(("urn:o/%d" % od["key"], "bench.orders", {
            "o_orderkey": od["key"], "o_custkey": e["iri"],
            "o_orderstatus": od["status"], "o_totalprice": od["price"],
            "o_orderdate": od["date"], "o_orderpriority": od["prio"]}))
        for li in od["lines"]:
            rows.append(("urn:l/%d/%d" % (od["key"], li["ln"]), "bench.lineitem", {
                "l_orderkey": od["key"], "l_linenumber": li["ln"],
                "l_partkey": li["part"], "l_returnflag": li["rf"],
                "l_linestatus": li["ls"], "l_custkey": e["iri"]}))
    return rows


def nation_rows():
    return [("urn:n/%d" % k, "bench.nation", {"n_nationkey": k, "n_name": n})
            for k, n in enumerate(NATIONS)]


def view_quads(rows):
    """(subject, predicate, obj) view-shaped quads, table routing first."""
    out = []
    for s, table, cols in rows:
        out.append((s, KG + "tableName", table))
        for c, v in cols.items():
            out.append((s, KG + c, str(v)))
    return out


def nt_doc(quads):
    return "".join("%s %s %s .\n" % (iri(s), iri(p), lit(o)) for s, p, o in quads)


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def write_corpus(t, out_dir):
    """Full-sync input: one Turtle document per org + collections, and the
    document-builder tables as N-Triples."""
    ents_by_org = {}
    for e in t.entities.values():
        ents_by_org.setdefault(e["org"], []).append(e)
    for code, o in t.orgs.items():
        triples = org_triples(o)
        for c_iri, name in t.collections.items():
            if c_iri.startswith(o["iri"] + "/"):
                triples += collection_triples(c_iri, name)
        for e in ents_by_org.get(code, []):
            triples += entity_triples(t, e)
        write(os.path.join(out_dir, "kg", code + ".ttl"), turtle_doc(triples))
    rows = nation_rows()
    for e in t.entities.values():
        rows += doc_rows(e)
    write(os.path.join(out_dir, "views", "tables.nt"), nt_doc(view_quads(rows)))


def write_batch(t, b, out_dir):
    """One incremental batch: the touched entities' whole subgraphs (the
    tombstoned ones as fragment-only), touched orgs, and the document-
    builder rows of every live touched entity."""
    triples, rows = [], []
    orgs = set()
    for p in b["scalar"] + b["children"] + b["insert"] + b["revoke"]:
        e = t.entities[p]
        triples += entity_triples(t, e)
        triples += collection_triples(e["collection"], t.collections[e["collection"]])
        if p not in b["revoke"]:
            rows += doc_rows(e)
            orgs.add(e["org"])
    for p in b["tombstone"]:
        triples += fragment_triples(t.entities[p])
    if b["rename"]:
        orgs.add(b["rename"])
    for code in sorted(orgs):
        triples += org_triples(t.orgs[code])
    write(os.path.join(out_dir, "kg", "batch.ttl"), turtle_doc(triples))
    write(os.path.join(out_dir, "views", "tables.nt"), nt_doc(view_quads(rows)))


# -------------------------------------------------------------- streaming

def stream_updates(t, seed, n_files, per_file):
    """Mutate truth t with n_files disjoint update groups; each group
    re-sends whole customer records (scalar change + new child set) or
    inserts new customers. Returns the per-file view-shaped rows."""
    rng = random.Random(seed * 7777 + 5)
    live = sorted(p for p in t.entities if t.entities[p]["org"] != list(t.orgs)[0])
    pick = rng.sample(live, min(len(live), n_files * per_file))
    files = []
    codes = list(t.orgs)
    for i in range(n_files):
        rows = []
        for p in pick[i * per_file:(i + 1) * per_file]:
            e = t.entities[p]
            e["name"] = e["name"] + " (s%d)" % i
            if rng.random() < 0.5:
                e["orders"] = new_orders(t, rng, e["iri"])
            rows += doc_rows(e)
        e = new_entity(t, rng, rng.choice(codes[1:]), BASE_MODIFIED)
        rows += doc_rows(e)
        files.append(rows)
    return files


def write_stream_files(files, out_dir):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    for i, rows in enumerate(files):
        q = view_quads(rows)
        table = pa.table({
            "subject": [s for s, _, _ in q], "predicate": [p for _, p, _ in q],
            "obj": [o for _, _, o in q], "lang": pa.nulls(len(q), pa.string()),
            "datatype": pa.nulls(len(q), pa.string()),
            "graph": pa.nulls(len(q), pa.string())})
        pq.write_table(table, os.path.join(out_dir, "feed-%05d.parquet" % i))


def dir_bytes(path):
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total
