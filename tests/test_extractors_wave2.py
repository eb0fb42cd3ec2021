"""Wave-2 extractor tests: dates, contributors, titles, subfield nodes,
language, footnotes, collections, relations — on synthesized records plus
reference fixture records where applicable."""

from esmarc_spark.mapping.dates import (
    build_date_created,
    build_date_published,
    build_end_date,
    build_start_date,
    date_to_event,
    parse_fuzzy_date,
    publication_node,
)
from esmarc_spark.mapping.engine import map_record
from esmarc_spark.mapping.nodes import (
    build_collection,
    build_contributors,
    build_language,
    build_related,
    build_subfield_if_4,
    build_title,
    build_topic_name,
    relation_predicate,
)
from tests.conftest import load_fixture_record, needs_reference


def _rec(tag, ind, subfields, extra=None):
    rec = {"001": "X1", tag: [{ind: [{k: v} for k, v in subfields]}]}
    rec.update(extra or {})
    return rec


# --- dates ------------------------------------------------------------------


def test_parse_fuzzy_date():
    assert parse_fuzzy_date("1979") == ("1979", "year")
    assert parse_fuzzy_date("12.04.1952") == ("1952-04-12", "day")
    assert parse_fuzzy_date("1952-04-12") == ("1952-04-12", "day")
    assert parse_fuzzy_date("march 1921") == ("1921-03", "month")
    assert parse_fuzzy_date("ca. 1830") == ("1830", "year")
    assert parse_fuzzy_date("2099") is None  # future reject
    assert parse_fuzzy_date("979") is None  # not 4-digit year


def test_date_to_event_ranges():
    assert date_to_event("1530-1547", "startDate") == "1530"
    assert date_to_event("1530-1547", "endDate") == "1547"
    assert date_to_event("1938-", "endDate") is None  # still alive
    assert date_to_event("1938-", "startDate") == "1938"
    assert date_to_event("[1952]", "startDate") == "1952"


def test_start_end_date_from_548():
    rec = {
        "001": "X1",
        "548": [
            {"__": [{"a": "1900-1980"}, {"4": "datx"}, {"i": "Lebensdaten"}]},
            {"__": [{"a": "1901-1981"}, {"4": "datl"}, {"i": "exakt"}]},
        ],
    }
    start = build_start_date(rec, "548^datl,datx", "persons")
    assert start["@value"] == "1901"  # the 'exakt' candidate wins
    end = build_end_date(rec, "548^datl,datx", "persons")
    assert end["@value"] == "1981"
    # datekey filter: no matching $4 -> None
    assert build_start_date(rec, "548^datb", "persons") is None


def test_date_published_cascade():
    rec_264 = _rec("264", "_1", [("b", "Pub"), ("c", "1979")])
    node = build_date_published(rec_264, None, "resources")
    assert node == {"dateOrigin": "1979", "dateParsed": "1979"}
    rec_533 = {
        "001": "X",
        "533": [{"__": [{"d": "1530-1547"}]}],
        "264": [{"_1": [{"c": "1979"}]}],
    }
    node = build_date_published(rec_533, None, "resources")
    assert node["dateOrigin"] == "1530-1547"
    assert node["dateParsedEarliest"] == "1530"
    assert node["dateParsedLatest"] == "1547"


def test_date_created_century_window():
    assert build_date_created({"001": "X", "008": "710101s1979"}, ["008"], "x") == "1971-01-01"
    assert build_date_created({"001": "X", "008": "200101s2020"}, ["008"], "x") == "2020-01-01"


def test_publication_node_list():
    assert publication_node(["1952", "bogus"]) == [
        {"dateOrigin": "1952", "dateParsed": "1952"},
        {"dateOrigin": "bogus"},
    ]


# --- contributors / names ----------------------------------------------------


def test_contributor_person_with_role():
    rec = _rec("100", "1_", [("a", "Doe, Jane"), ("d", "1938-"), ("0", "(DE-588)107891174"), ("4", "aut")])
    [node] = build_contributors(rec, ["100"], "resources")
    assert node["@type"] == "Person"
    assert node["name"] == "Doe, Jane"
    assert node["sameAs"] == "https://d-nb.info/gnd/107891174"
    assert node["roles"][0]["name"] == "Author"
    assert node["roles"][0]["@id"].endswith("/aut")


def test_contributor_org_and_event():
    # NB: org/event name parts are value[0] — first LIST element, but first
    # CHARACTER of a plain string. That quirk is the reference's own
    # (namings.py:93, verified by tests/test_reference_oracle.py); lists
    # behave sensibly, scalars contribute one char.
    rec = _rec("110", "2_", [("a", ["Acme"]), ("b", ["Labs"]), ("0", "(DE-627)123")])
    [node] = build_contributors(rec, ["110"], "resources")
    assert node["@type"] == "Organization"
    assert node["name"] == "Acme, Labs"
    assert node["@id"] == "https://data.slub-dresden.de/organizations/123"
    rec = _rec("111", "2_", [("a", "Conf"), ("n", "3"), ("d", "1999")])
    [node] = build_contributors(rec, ["111"], "resources")
    assert node["@type"] == "Event"
    assert node["name"] == "C, 3, 1"  # scalar values -> first chars (quirk)


def test_topic_name():
    rec = _rec("150", "__", [("a", "Music"), ("x", "History"), ("g", "Europe")])
    assert build_topic_name(rec, "150", "topics") == "Music / History (Europe)"


def test_title_main_and_sub():
    rec = _rec("245", "10", [("a", "Main"), ("b", "Sub"), ("c", "By Jane /")])
    t = build_title(rec, None, "resources")
    assert t["mainTitle"] == "Main"
    assert t["subTitle"] == "Sub"
    assert t["preferredName"] == "Main : Sub / By Jane /"
    assert t["responsibilityStatement"] == "By Jane /"


@needs_reference("tests/in")
def test_title_fixture_record_has_uniform_titles():
    record = load_fixture_record("1131213920")
    t = build_title(record, None, "resources")
    assert t["mainTitle"]
    assert isinstance(t["preferredName"], str)


# --- subfield nodes -----------------------------------------------------------


def test_subfield_if_4():
    rec = _rec("551", "__", [("a", "Dresden"), ("0", "(DE-588)4012995-0"), ("4", "ortg")])
    node = build_subfield_if_4(rec, "551^4:ortg", "persons")
    assert node["name"] == "Dresden"
    assert node["sameAs"] == "https://d-nb.info/gnd/4012995-0"
    assert build_subfield_if_4(rec, "551^orts", "persons") is None


# --- language / collections / relations ---------------------------------------


def test_language_lookup():
    rec = _rec("041", "__", [("a", "ger")])
    [node] = build_language(rec, "041..a", "resources")
    assert node["codeValue"] == "ger"
    assert node["name"] == {"en": "German", "de": "Deutsch"}
    assert node["@id"].endswith("/ger")
    # k10plus remap
    rec = _rec("041", "__", [("a", "qmo")])
    [node] = build_language(rec, "041..a", "resources")
    assert node["codeValue"] == "rum"
    # und fallback only for the $a selector
    empty = {"001": "X"}
    assert build_language(empty, "041..a", "resources")["codeValue"] == "und"
    assert build_language(empty, "041..h", "resources") is None


def test_collection_lookup():
    rec = _rec("084", "__", [("a", "1")])
    [node] = build_collection(rec, ["084..a", "935..a"], "resources")
    assert node["abbr"] == "1"
    assert node["preferredName"].startswith("SSG")


def test_relation_predicate():
    assert relation_predicate("Sohn") == "children"
    assert relation_predicate("v:Gattin") == "spouse"
    assert relation_predicate("nonsense xyz") == "relatedTo"


def test_related_dynamic_key_fanout():
    rec = {
        "001": "X1",
        "079": [{"__": [{"b": "p"}]}],
        "100": [{"1_": [{"a": "Doe, Jane"}]}],
        "500": [{"1_": [{"a": "Doe, John"}, {"0": "(DE-588)123"}, {"9": "v:Gatte"}]}],
    }
    entity, doc = map_record(rec)
    assert entity == "persons"
    assert "spouse" in doc
    node = doc["spouse"][0] if isinstance(doc["spouse"], list) else doc["spouse"]
    assert node["name"] == "Doe, John"
    assert node["sameAs"] == "https://d-nb.info/gnd/123"
    assert "relatedTo" not in doc
