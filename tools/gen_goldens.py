#!/usr/bin/env python3
"""Golden-file generator: runs the REFERENCE's own pure logic (imported /
ast-extracted from /root/reference, with its I/O modules stubbed) over
deterministic synthetic fixtures, and writes byte-exact goldens consumed by
the ScalaTest suite (src/test/resources/goldens/).

This is a test harness, not engine code. It exists so the Scala engine's
textifier / triple extractor are verified against the actual reference
behavior (BASELINE.md: byte-identical text, triple P/R >= 0.95).

Two documented pins of reference-unspecified behavior:
 - alias order: the reference uses Python set union (hash-seed dependent,
   unspecified order); we pin first-occurrence order (lang, then unseen mul).
 - statement qid_label: the reference's `qid_label = query_label(...)` returns
   a sqlite tuple and would crash at `.replace` (statement_textification.py:426);
   we pin the only reading that runs: the subject's label string.
"""
import ast
import json
import os
import sys
import types

REF = "/root/reference"
OUT = os.path.join(os.path.dirname(__file__), "..", "src", "test", "resources")

# --------------------------------------------------------------------------
# 1. Fixture universe (deterministic, synthetic — modeled on Q2/Q42 structure)
# --------------------------------------------------------------------------

LABELS = {
    # properties
    "P31": "instance of", "P580": "start time", "P582": "end time",
    "P1082": "population", "P2046": "area", "P17": "country",
    "P6": "head of government", "P279": "subclass of", "P123": "publisher",
    "P1448": "official name", "P625": "coordinate location",
    "P2044": "elevation above sea level", "P7777": 'has "quoted" name',
    "P1889": "different from",
    # entities
    "Q515": "city", "Q5": "human", "Q183": "Germany", "Q64": "Berlin",
    "Q11573": "metre", "Q828224": "kilometre", "Q199": "",  # empty label
    "Q90001": "Fixture City", "Q90002": "Time Lord",
    "Q90003": "Preferred Tester", "Q90004": "Mul Fallback",
    "Q90005": 'Quote "Master"', "Q90006": "Geo Sampler",
    "Q90007": "Bare Entity", "Q90008": "Claim Heavy", "Q90009": "Long Winded",
    "Q90010": "No Description",
    # Q404 deliberately absent (missing entity), Q77777 absent (unit miss)
}
for i in range(1, 41):
    LABELS[f"P9{i:03d}"] = f"bulk property {i}"
    LABELS[f"Q8{i:03d}"] = f"bulk value {i}"


def sv(dt, value):
    return {"snaktype": "value", "datatype": dt,
            "datavalue": {"value": value, "type": "t"}}


def item_v(qid):
    return sv("wikibase-item", {"entity-type": "item", "numeric-id": int(qid[1:]), "id": qid})


def time_v(t, prec, cal="Q1985727"):
    return sv("time", {"time": t, "timezone": 0, "before": 0, "after": 0,
                       "precision": prec,
                       "calendarmodel": f"http://www.wikidata.org/entity/{cal}"})


def qty_v(amount, unit="1"):
    u = unit if unit == "1" else f"http://www.wikidata.org/entity/{unit}"
    return sv("quantity", {"amount": amount, "unit": u})


def claim(mainsnak, rank="normal", qualifiers=None, ctype="statement", references=None):
    c = {"mainsnak": dict(mainsnak, hash="deadbeef"), "type": ctype, "rank": rank,
         "id": "stmt$id"}
    if qualifiers:
        c["qualifiers"] = qualifiers
        c["qualifiers-order"] = list(qualifiers.keys())
    if references:
        c["references"] = [
            {"hash": f"ref{i}", "snaks": snaks, "snaks-order": list(snaks.keys())}
            for i, snaks in enumerate(references)]
    return c


def entity(qid, labels=None, descriptions=None, aliases=None, sitelinks=None, claims=None):
    return {"type": "item", "id": qid,
            "labels": labels or {}, "descriptions": descriptions or {},
            "aliases": aliases or {}, "sitelinks": sitelinks or {},
            "claims": claims or {}}


def lv(lang, value):
    return {lang: {"language": lang, "value": value}}


FIXTURES = []

# Q90001 — the standard entity: all happy-path datatypes + qualifiers
FIXTURES.append(entity(
    "Q90001",
    labels={**lv("en", "Fixture City"), **lv("de", "Fixturstadt")},
    descriptions={**lv("en", "synthetic test city"), **lv("de", "synthetische Teststadt")},
    aliases={"en": [{"value": "FixCity"}, {"value": "The Fixture"}],
             "mul": [{"value": "FixCity"}, {"value": "FC"}]},
    sitelinks={"enwiki": {"site": "enwiki", "title": "Fixture City"},
               "dewiki": {"site": "dewiki", "title": "Fixturstadt"}},
    claims={
        "P31": [claim(item_v("Q515"),
                      qualifiers={"P580": [dict(sv("time", {"time": "+1971-00-00T00:00:00Z",
                                                            "precision": 9,
                                                            "calendarmodel": "http://www.wikidata.org/entity/Q1985727"}),
                                               hash="h1")],
                                  "P17": [item_v("Q183")]},
                      references=[{"P123": [item_v("Q64")],
                                   "P580": [time_v("+2014-09-18T00:00:00Z", 11, "Q1985727")]}])],
        "P17": [claim(item_v("Q183"),
                      references=[{"P1448": [sv("monolingualtext",
                                                {"text": "ref text", "language": "en"})]},
                                  {"P1082": [qty_v("+7", "Q11573")],
                                   "P123": [{"snaktype": "somevalue",
                                             "datatype": "wikibase-item"}]}])],
        "P1448": [claim(sv("monolingualtext", {"text": "City of Fixtures", "language": "en"}))],
        "P1082": [claim(qty_v("+120345"))],
        "P2046": [claim(qty_v("+891.68", "Q828224"))],
        "P2044": [claim(qty_v("+34", "Q11573"))],
        "P6": [claim(item_v("Q5"), qualifiers={"P580": [time_v("+2014-09-18T00:00:00Z", 11, "Q1985727")],
                                               "P582": [time_v("+2021-00-00T00:00:00Z", 9, "Q1985727")]})],
        "P580": [claim(time_v("+1987-06-17T12:34:56Z", 11, "Q1985727"))],
    }))

# Q90002 — time torture: every precision, BCE, Julian, fallback paths
time_claims = [
    claim(time_v("+1987-06-17T12:34:56Z", 14, "Q1985727")),
    claim(time_v("+1987-06-17T12:34:56Z", 13, "Q1985727")),
    claim(time_v("+1987-06-17T12:34:56Z", 12, "Q1985727")),
    claim(time_v("+2024-09-18T00:00:00Z", 11, "Q1985727")),
    claim(time_v("+0044-03-15T00:00:00Z", 11, "Q1985786")),   # Julian -> +10d
    claim(time_v("-0044-03-15T00:00:00Z", 11, "Q1985786")),   # negative: no Julian shift
    claim(time_v("+1582-10-05T00:00:00Z", 11, "Q1985786")),   # gap edge
    claim(time_v("+1500-02-30T00:00:00Z", 11, "Q1985786")),   # invalid Julian -> raw fallback
    claim(time_v("+1500-00-00T00:00:00Z", 9, "Q1985786")),    # Julian with 00 month/day
    claim(time_v("+1971-00-00T00:00:00Z", 10, "Q1985727")),
    claim(time_v("+1971-00-00T00:00:00Z", 9, "Q1985727")),
    claim(time_v("-0500-01-01T00:00:00Z", 9, "Q1985727")),
    claim(time_v("+0000-00-00T00:00:00Z", 9, "Q1985727")),    # year 0 -> "0 BC"
    claim(time_v("+1987-00-00T00:00:00Z", 8, "Q1985727")),
    claim(time_v("-0525-00-00T00:00:00Z", 8, "Q1985727")),    # floor-div decade
    claim(time_v("+1905-00-00T00:00:00Z", 7, "Q1985727")),
    claim(time_v("-0001-00-00T00:00:00Z", 7, "Q1985727")),
    claim(time_v("+1905-00-00T00:00:00Z", 6, "Q1985727")),
    claim(time_v("+12345-00-00T00:00:00Z", 5, "Q1985727")),
    claim(time_v("+234567-00-00T00:00:00Z", 4, "Q1985727")),
    claim(time_v("-3456789-00-00T00:00:00Z", 3, "Q1985727")),
    claim(time_v("+12345678-01-01T00:00:00Z", 2, "Q1985727")),
    claim(time_v("+123456789-01-01T00:00:00Z", 1, "Q1985727")),
    claim(time_v("+4500000000-01-01T00:00:00Z", 0, "Q1985727")),
    claim(time_v("-13798000000-00-00T00:00:00Z", 0, "Q1985727")),
    claim(time_v("1987-06-17T12:34:56Z", 11, "Q1985727")),    # malformed (no sign) -> raw
]
FIXTURES.append(entity(
    "Q90002",
    labels=lv("en", "Time Lord"),
    descriptions=lv("en", "entity exercising every time precision"),
    sitelinks={"enwiki": {"site": "enwiki", "title": "Time Lord"}},
    claims={"P580": time_claims}))

# Q90003 — rank semantics: preferred resets normals; deprecated dropped from
# text (but visible to the triple extractor, which reads raw claims)
FIXTURES.append(entity(
    "Q90003",
    labels=lv("en", "Preferred Tester"),
    descriptions=lv("en", "rank selection test"),
    sitelinks={"enwiki": {"site": "enwiki", "title": "PT"}},
    claims={
        "P31": [claim(item_v("Q515"), rank="normal"),
                claim(item_v("Q5"), rank="preferred"),
                claim(item_v("Q183"), rank="normal"),
                claim(item_v("Q64"), rank="preferred"),
                claim(item_v("Q828224"), rank="deprecated")],
        "P279": [claim(item_v("Q5"), rank="preferred"),
                 claim(item_v("Q515"), rank="normal")],
        "P17": [claim(item_v("Q183"), ctype="not-a-statement")],  # dropped from text, kept in triples
    }))

# Q90004 — mul fallbacks + droppable values (missing entity, empty label,
# novalue kept, somevalue dropped, unknown datatype dropped)
FIXTURES.append(entity(
    "Q90004",
    labels={"mul": {"language": "mul", "value": "Mul Fallback"}},
    descriptions={"mul": {"language": "mul", "value": "mul-only description"}},
    aliases={"mul": [{"value": "MF"}]},
    sitelinks={"enwiki": {"site": "enwiki", "title": "MF"}},
    claims={
        "P31": [claim(item_v("Q404")),            # entity absent -> dropped from text
                claim(item_v("Q199")),            # empty label -> dropped from text
                claim(item_v("Q515"))],
        "P17": [claim({"snaktype": "novalue", "datatype": "wikibase-item"})],
        "P123": [claim({"snaktype": "somevalue", "datatype": "wikibase-item"})],
        "P625": [claim(sv("globe-coordinate",
                          {"latitude": 48.8566, "longitude": 2.3522, "altitude": None,
                           "precision": 0.0001, "globe": "http://www.wikidata.org/entity/Q2"}))],
    }))

# Q90005 — quote escaping (T8) + strings
FIXTURES.append(entity(
    "Q90005",
    labels=lv("en", 'Quote "Master"'),
    descriptions=lv("en", 'says "hello" and \'bye\''),
    sitelinks={"enwiki": {"site": "enwiki", "title": "QM"}},
    claims={
        "P1448": [claim(sv("monolingualtext", {"text": 'The "Quoted" One', "language": "en"}))],
        "P123": [claim(sv("string", 'plain "string" value'))],
        "P7777": [claim(sv("string", "back\\slash and\nnewline"))],
    }))

# Q90006 — coordinates (int + float + alt), property-valued claim, unit-miss
FIXTURES.append(entity(
    "Q90006",
    labels=lv("en", "Geo Sampler"),
    descriptions=lv("en", "coordinates and odd units"),
    sitelinks={"enwiki": {"site": "enwiki", "title": "GS"}},
    claims={
        "P625": [claim(sv("globe-coordinate", {"latitude": 48.8566, "longitude": 2.3522})),
                 claim(sv("globe-coordinate", {"latitude": 48, "longitude": -2})),
                 claim(sv("globe-coordinate", {"latitude": -12.5, "longitude": 130.75, "altitude": 42.0})),
                 claim(sv("globe-coordinate", {"latitude": 1.25, "longitude": 3.5, "altitude": None}))],
        "P1889": [claim(sv("wikibase-property", {"entity-type": "property", "id": "P31"}))],
        "P2046": [claim(qty_v("+7", "Q77777")),    # unit entity absent -> URI in text
                  claim(qty_v("+7", "Q199")),      # unit label empty -> omitted
                  claim(qty_v("-40"))],
        "P1082": [claim(sv("quantity", {"amount": "+99"}))],  # missing unit key -> amount fallback
    }))

# Q90007 — no claims, no aliases: text must end with "."
FIXTURES.append(entity(
    "Q90007",
    labels=lv("en", "Bare Entity"),
    descriptions=lv("en", "nothing else"),
    sitelinks={"enwiki": {"site": "enwiki", "title": "BE"}}))

# Q90008 — many claims (chunker: multi-chunk at small budgets)
FIXTURES.append(entity(
    "Q90008",
    labels=lv("en", "Claim Heavy"),
    descriptions=lv("en", "forty properties for the chunker"),
    sitelinks={"enwiki": {"site": "enwiki", "title": "CH"}},
    claims={f"P9{i:03d}": [claim(item_v(f"Q8{i:03d}")),
                           claim(sv("string", f"extra value number {i} with some padding words"))]
            for i in range(1, 41)}))

# Q90009 — description alone exceeds small budgets (truncation path)
FIXTURES.append(entity(
    "Q90009",
    labels=lv("en", "Long Winded"),
    descriptions=lv("en", " ".join(f"wordy{i}" for i in range(200))),
    sitelinks={"enwiki": {"site": "enwiki", "title": "LW"}},
    claims={"P31": [claim(item_v("Q515"))]}))

# Q90011 — non-ASCII byte-identity: Arabic label/desc (RTL), CJK values,
# accents and combining marks in strings
LABELS["Q90011"] = "مدينة الاختبار"
LABELS["Q90012"] = "測試城市"
FIXTURES.append(entity(
    "Q90011",
    labels={**lv("en", "مدينة الاختبار"), **lv("ar", "مدينة الاختبار الاصطناعية")},
    descriptions={**lv("en", "مدينة اصطناعية für Tests — café"),
                  **lv("ar", "وصف عربي للمدينة الاصطناعية")},
    aliases={"en": [{"value": "المدينة"}, {"value": "Prüfstadt"}]},
    sitelinks={"enwiki": {"site": "enwiki", "title": "Test"}},
    claims={
        "P31": [claim(item_v("Q90012"))],
        "P1448": [claim(sv("monolingualtext", {"text": "測試值 with mixed 文字", "language": "zh"}))],
        "P123": [claim(sv("string", "naïve coöperation — étoile"))],
        "P1082": [claim(qty_v("+42"))],
    }))

# Q90012 — CJK label referenced as a value by Q90011
FIXTURES.append(entity(
    "Q90012",
    labels=lv("en", "測試城市"),
    descriptions=lv("en", "シンセティック test entity 合成"),
    sitelinks={"enwiki": {"site": "enwiki", "title": "CJK"}},
    claims={"P17": [claim(item_v("Q90011"))]}))

# Q90010 — label but no description in any language; statements skip it
FIXTURES.append(entity(
    "Q90010",
    labels=lv("en", "No Description"),
    claims={"P31": [claim(item_v("Q5"))]}))


# --------------------------------------------------------------------------
# 2. Write fixtures (dump-shaped JSONL with array wrappers + trailing commas)
# --------------------------------------------------------------------------

os.makedirs(f"{OUT}/fixtures", exist_ok=True)
with open(f"{OUT}/fixtures/entities.jsonl", "w") as f:
    f.write("[\n")
    for e in FIXTURES:
        f.write(json.dumps(e, separators=(",", ":"), ensure_ascii=False) + ",\n")
    f.write("]\n")
with open(f"{OUT}/fixtures/labels.json", "w") as f:
    json.dump(LABELS, f, ensure_ascii=False, indent=0, sort_keys=True)

# --------------------------------------------------------------------------
# 3. Stub reference I/O modules, import the real textifier
# --------------------------------------------------------------------------

sys.path.insert(0, f"{REF}/src")

requests_stub = types.ModuleType("requests")
requests_stub.get = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("no egress"))
sys.modules["requests"] = requests_stub


class StubEntity:
    def __init__(self, id, label, description="", aliases=None, claims=None):
        self.id, self.label, self.description = id, label, description
        self.aliases = aliases or []
        self.claims = claims or {}


class StubWikidataEntity:
    @staticmethod
    def get_entity(id):
        if id in LABELS:
            return StubEntity(id, LABELS[id])
        return None


wikidataDB_stub = types.ModuleType("wikidataDB")
wikidataDB_stub.WikidataEntity = StubWikidataEntity
sys.modules["wikidataDB"] = wikidataDB_stub

import wikidataEmbed  # noqa: E402  (the real reference module)

# --------------------------------------------------------------------------
# 4. ast-extract the real normalise/_get_claims/_get_aliases/extract_entity_ids
#    from wikidataDB.py (module itself needs sqlalchemy; the methods are pure)
# --------------------------------------------------------------------------

def extract_functions(path, names, class_name=None):
    src = open(path).read()
    tree = ast.parse(src)
    nodes = []
    pool = tree.body
    if class_name:
        pool = [n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == class_name][0].body
    for n in pool:
        if isinstance(n, ast.FunctionDef) and n.name in names:
            for d in list(n.decorator_list):
                n.decorator_list.remove(d)  # drop @staticmethod
            nodes.append(n)
    mod = ast.Module(body=nodes, type_ignores=[])
    return ast.unparse(mod)


db_src = extract_functions(f"{REF}/src/wikidataDB.py",
                           ["normalise_item", "_remove_keys", "_get_claims", "_get_aliases"],
                           class_name="WikidataEntity")
id_src = extract_functions(f"{REF}/src/wikidataDB.py",
                           ["is_in_wikipedia", "extract_entity_ids"],
                           class_name="WikidataID")

# the extracted staticmethods reference WikidataEntity./WikidataID. — rebind
# them to a shim object carrying the extracted functions
class _Shim:
    pass
shim = _Shim()
ns = {"json": json, "WikidataEntity": shim, "WikidataID": shim}
exec(db_src, ns)
exec(id_src, ns)
shim._remove_keys = ns["_remove_keys"]
shim._get_claims = ns["_get_claims"]
shim._get_aliases = ns["_get_aliases"]
shim.is_in_wikipedia = ns["is_in_wikipedia"]
shim.extract_entity_ids = ns["extract_entity_ids"]

# Pin: alias order (reference uses set-union, order unspecified). First
# occurrence: lang list then unseen mul entries.
def _aliases_pinned(item, language="en"):
    seen, out = set(), []
    for key in (language, "mul"):
        for x in item.get("aliases", {}).get(key, []) or []:
            if x["value"] not in seen:
                seen.add(x["value"])
                out.append(x["value"])
    return out
shim._get_aliases = _aliases_pinned

normalise_item = ns["normalise_item"]
extract_entity_ids = ns["extract_entity_ids"]
is_in_wikipedia = ns["is_in_wikipedia"]

# --------------------------------------------------------------------------
# 5. ast-extract the real entity_to_statements (statement pipeline)
# --------------------------------------------------------------------------

st_src = extract_functions(
    f"{REF}/experimental_run_scripts/wikidata_datadump_statement_textification.py",
    ["entity_to_statements"])
# Pin the tuple/.replace crash (see module docstring): subject label string.
st_src = st_src.replace(
    "qid_label = query_label(conn, qid_, field='qid')\n    item_desc",
    "qid_label = query_label(conn, qid_, field='qid')[1]\n    item_desc")
assert "field='qid')[1]" in st_src

import uuid as uuid_mod


def query_label(conn, qpid, field="qid"):
    if qpid in LABELS:
        return (qpid, LABELS[qpid])
    return None


st_ns = {"query_label": query_label, "uuid": uuid_mod, "isinstance": isinstance}
exec(st_src, st_ns)
entity_to_statements = st_ns["entity_to_statements"]

# --------------------------------------------------------------------------
# 6. Tokenizer stand-in (mirrors graft.textify.SimpleTokenizer, maxPiece=8)
# --------------------------------------------------------------------------

class PyTokenizer:
    def __init__(self, max_piece=8):
        self.max_piece = max_piece

    def __call__(self, text, add_special_tokens=False, return_offsets_mapping=True):
        offsets = []
        i, n = 0, len(text)
        while i < n:
            if text[i].isspace():
                i += 1
                continue
            j = i
            while j < n and not text[j].isspace():
                j += 1
            s = i
            while s < j:
                e = min(s + self.max_piece, j)
                offsets.append((s, e))
                s = e
            i = j
        return {"input_ids": list(range(len(offsets))), "offset_mapping": offsets}


# NOTE: PyTokenizer treats .isspace() per Python unicode semantics; the Scala
# side uses Character.isWhitespace. Fixture text sticks to ASCII whitespace.

# --------------------------------------------------------------------------
# 7. Generate goldens
# --------------------------------------------------------------------------

for d in ("text", "triples", "chunks", "ids", "matrix"):
    os.makedirs(f"{OUT}/goldens/{d}", exist_ok=True)

VARIANTS = ["en", "de", "ar", "rdf", "json"]
textifiers = {v: wikidataEmbed.WikidataTextifier(language=v) for v in VARIANTS}

for raw in FIXTURES:
    qid = raw["id"]
    norm = normalise_item(raw, language="en")
    ent = StubEntity(norm["id"], norm["label"], norm["description"],
                     json.loads(norm["aliases"]), json.loads(norm["claims"]))
    for v in VARIANTS:
        # the reference pipeline normalizes the whole DB with LANGUAGE before
        # textifying (src/wikidataDB.py:126-148 run per LANG): de/ar variants
        # therefore pick that language's label/description/aliases (mul
        # fallback); rdf/json are en-data presentation variants
        norm_lang = v if v in ("de", "ar") else "en"
        nv = norm if norm_lang == "en" else normalise_item(raw, language=norm_lang)
        ent_v = StubEntity(nv["id"], nv["label"], nv["description"],
                           json.loads(nv["aliases"]), json.loads(nv["claims"]))
        txt = textifiers[v].entity_to_text(ent_v)
        with open(f"{OUT}/goldens/text/{qid}_{v}.txt", "w") as f:
            f.write(txt)
    # triples (en), uuid/embedding stripped
    rows = entity_to_statements(raw, conn=object(), lang="en")
    for r in rows:
        r.pop("uuid", None)
        r.pop("embedding", None)
    with open(f"{OUT}/goldens/triples/{qid}.json", "w") as f:
        json.dump(rows, f, ensure_ascii=False, indent=1)
    # ids + inwiki
    with open(f"{OUT}/goldens/ids/{qid}.json", "w") as f:
        json.dump({"in_wikipedia": is_in_wikipedia(raw, language="en"),
                   "ids": extract_entity_ids(raw, language="en")}, f, indent=1)
    # chunks (en textifier), budgets 30 / 60 / 500
    tok = PyTokenizer()
    chunks = {str(b): textifiers["en"].chunk_text(ent, tok, max_length=b)
              for b in (30, 60, 500)}
    with open(f"{OUT}/goldens/chunks/{qid}.json", "w") as f:
        json.dump(chunks, f, ensure_ascii=False, indent=1)

# --------------------------------------------------------------------------
# 7c. Qualifier + reference triples (P6): execute the REFERENCE notebook's own
#     get_triplets + cleanup chain (Data_Sample_Preparation.ipynb cells 2/3/5)
#     over the fixtures. get_labels is stubbed from LABELS (the notebook hits
#     the Wikidata API; add_labels only restructures — get_value unwraps it).
# --------------------------------------------------------------------------

nb = json.load(open(f"{REF}/notebooks/Data_Sample_Preparation.ipynb"))
nb_cells = ["".join(c["source"]) for c in nb["cells"] if c["cell_type"] == "code"]
cell_clean = next(s for s in nb_cells if "def clean_datavalue" in s)
cell_triplets = next(s for s in nb_cells if "def get_triplets" in s)

import re as re_mod
nb_ns = {"re": re_mod, "requests": requests_stub, "isinstance": isinstance,
         "print": print}
exec(cell_clean, nb_ns)
nb_ns["get_labels"] = lambda qpid: {
    "en": {"language": "en", "value": LABELS.get(qpid, "")}}
exec(cell_triplets, nb_ns)

os.makedirs(f"{OUT}/goldens/triplets", exist_ok=True)
for raw in FIXTURES:
    # the notebook's exact cleanup chain (cell 3) before get_triplets
    cc = nb_ns["remove_keys"](raw["claims"], [
        "hash", "snaktype", "type", "entity-type", "numeric-id",
        "qualifiers-order", "snaks-order"])
    cc = nb_ns["clean_datavalue"](cc)
    cc = nb_ns["remove_keys"](cc, ["id"])
    cc = nb_ns["add_labels"](cc)
    rows = nb_ns["get_triplets"]({"claims": cc})
    # strip add_labels' label decorations: get_value already unwrapped the
    # ones that matter; drop the rest so goldens stay label-store-independent
    rows = nb_ns["remove_keys"](rows, ["labels", "property-labels", "unit-labels"])
    with open(f"{OUT}/goldens/triplets/{raw['id']}.json", "w") as f:
        json.dump(rows, f, ensure_ascii=False, indent=1)

# time matrix: run the real time_to_text over a grid; record RAISE on error
time_cases = []
grid_times = [
    "+1987-06-17T12:34:56Z", "-1987-06-17T12:34:56Z", "+0044-03-15T00:00:00Z",
    "-0044-03-15T00:00:00Z", "+1582-10-05T00:00:00Z", "+1582-10-15T00:00:00Z",
    "+1500-02-30T00:00:00Z", "+0002-01-01T00:00:00Z", "+0001-01-01T00:00:00Z",
    "+9999-12-25T00:00:00Z", "+9999-12-28T00:00:00Z", "+1971-00-00T00:00:00Z",
    "+0000-00-00T00:00:00Z", "-0500-06-00T00:00:00Z", "+12345-00-00T00:00:00Z",
    "+1234567890123456-01-01T00:00:00Z", "-9999999999999999-01-01T00:00:00Z",
    "1987-06-17T12:34:56Z", "+87-06-17T00:00:00Z", "+1987-13-40T99:99:99Z",
]
for t in grid_times:
    for prec in range(0, 15):
        for cal in ("Q1985727", "Q1985786"):
            for lang in ("en", "de", "ar"):
                try:
                    r = textifiers[lang].time_to_text(
                        {"time": t, "precision": prec,
                         "calendarmodel": f"http://www.wikidata.org/entity/{cal}"})
                except Exception:
                    r = "\x00RAISE"
                time_cases.append({"time": t, "precision": prec, "cal": cal,
                                   "lang": lang, "out": r})
with open(f"{OUT}/goldens/matrix/time.json", "w") as f:
    json.dump(time_cases, f, ensure_ascii=False, indent=0)

# float repr matrix (for PyFloat)
floats = [0.0, -0.0, 1.0, -1.0, 48.8566, -12.5, 0.0001, 0.00001, 1e15, 1e16,
          1.5e16, 9999999999999998.0, 1e-4, 9.87e-5, 123456.789, 2.3522,
          1/3, 0.1, 100.0, 42.0, -130.75, 5e-324, 1.7976931348623157e308]
with open(f"{OUT}/goldens/matrix/floats.json", "w") as f:
    json.dump([{"bits": __import__("struct").pack(">d", x).hex(), "repr": repr(x)}
               for x in floats], f, indent=0)

print("goldens written to", os.path.abspath(f"{OUT}/goldens"))
print("fixtures:", len(FIXTURES), "entities;", len(LABELS), "labels")


# --------------------------------------------------------------------------
# 9. Stage-6 HF export goldens: execute the reference's OWN clean_entity /
#    labels-splice chain (src/wikidataLabelsDB.py:140-318) + the docker/6
#    run.py:27-34 row dumps over dump-SHAPED fixtures (snaks carry their
#    'property' key like the real dump, unlike the minimal sv() fixtures).
# --------------------------------------------------------------------------

import copy
import re as _re

hfl_src = extract_functions(
    f"{REF}/src/wikidataLabelsDB.py",
    ["_remove_keys", "_clean_datavalue", "_gather_labels_ids",
     "_add_labels_to_claims", "add_labels_batched", "clean_labels",
     "clean_entity", "is_in_wikipedia", "get_labels", "get_labels_list"],
    class_name="WikidataLabels")

class _HfShim:
    pass
hf_shim = _HfShim()
hf_ns = {"json": json, "re": _re, "WikidataLabels": hf_shim}
exec(hfl_src, hf_ns)
for name in ["_remove_keys", "_clean_datavalue", "_gather_labels_ids",
             "_add_labels_to_claims", "add_labels_batched", "clean_labels",
             "clean_entity", "is_in_wikipedia"]:
    setattr(hf_shim, name, hf_ns[name])

# dump-shaped HF fixtures: deep-copied FIXTURES with snak-level 'property'
# keys (mainsnak / qualifiers / references — the real dump shape the labels
# splice keys on), plus one splice-probe entity exercising label hit,
# bare-string-collapse hit, unit-label hit, and miss paths.
def _add_property_keys(e):
    for pid, claims in e.get("claims", {}).items():
        for c in claims:
            if "mainsnak" in c:
                c["mainsnak"]["property"] = pid
            for qpid, snaks in c.get("qualifiers", {}).items():
                for s in snaks:
                    s["property"] = qpid
            for ref in c.get("references", []) or []:
                snaks = ref.get("snaks", ref)  # fixtures store refs as {pid: [snaks]}
                if isinstance(snaks, dict):
                    for rpid, rsnaks in snaks.items():
                        if isinstance(rsnaks, list):
                            for s in rsnaks:
                                if isinstance(s, dict):
                                    s["property"] = rpid
    return e

HF_FIXTURES = [_add_property_keys(copy.deepcopy(e)) for e in FIXTURES]
HF_FIXTURES.append(_add_property_keys(entity(
    "Q90020",
    labels=lv("en", "HF Splice Probe"),
    descriptions=lv("en", "exercises every labels-splice path"),
    sitelinks={"enwiki": {"site": "enwiki", "title": "HF Splice Probe",
                          "badges": ["Q17437796"]}},
    claims={
        # datavalue labels: single-lang fixture -> BARE-STRING collapse quirk
        "P31": [claim(item_v("Q90010"))],
        # datavalue labels: multi-lang fixture -> dict hit
        "P17": [claim(item_v("Q90001"))],
        # unit-labels hit: unit is a fixture entity
        "P2046": [claim(qty_v("+5", "Q90012"))],
        # everything-missing path: value + unit absent from the DB
        "P1082": [claim(qty_v("+7", "Q77777"))],
    })))

# labels DB analog: pass 1 harvests clean_labels for EVERY fixture entity
HF_LABELS_DB = {e["id"]: hf_shim.clean_labels(copy.deepcopy(e["labels"]))
                for e in HF_FIXTURES}
hf_ns["get_labels"] = lambda id: HF_LABELS_DB.get(id, {})
hf_ns["get_labels_list"] = lambda ids: {i: HF_LABELS_DB[i] for i in ids if i in HF_LABELS_DB}
hf_shim.get_labels = hf_ns["get_labels"]
hf_shim.get_labels_list = hf_ns["get_labels_list"]

hf_rows = []
for e in HF_FIXTURES:
    if hf_shim.is_in_wikipedia(e):
        ce = hf_shim.clean_entity(copy.deepcopy(e))
        hf_rows.append({
            "id": ce["id"],
            "labels": json.dumps(ce["labels"], separators=(",", ":")),
            "descriptions": json.dumps(ce["descriptions"], separators=(",", ":")),
            "aliases": json.dumps(ce["aliases"], separators=(",", ":")),
            "sitelinks": json.dumps(ce["sitelinks"], separators=(",", ":")),
            "claims": json.dumps(ce["claims"], separators=(",", ":")),
        })

with open(f"{OUT}/fixtures/hf_entities.jsonl", "w") as f:
    f.write("[\n")
    for e in HF_FIXTURES:
        f.write(json.dumps(e, separators=(",", ":"), ensure_ascii=False) + ",\n")
    f.write("]\n")
with open(f"{OUT}/goldens/hf_export.json", "w") as f:
    json.dump(hf_rows, f, ensure_ascii=False, indent=1)
print("hf export goldens:", len(hf_rows), "rows of", len(HF_FIXTURES), "entities")
