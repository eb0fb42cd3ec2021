"""Enrichment-bot parity: run the ACTUAL reference bot code (HTTP mocked
with the same payloads our authority datasets carry) against the Spark
dataset-join renderings in esmarc_spark.pipeline.bots — outputs must be
EXACTLY equal (no canon equivalence: the merge stage is a verbatim port).
"""

from __future__ import annotations

import copy
import importlib.util
import json
import sys
import types

import pytest

from tests.conftest import needs_reference
from tests.test_reference_oracle import _install_shims


class _Resp:
    def __init__(self, payload, ok=True):
        self._payload = payload
        self.ok = ok
        self.status_code = 200 if ok else 404
        self.content = b""

    def json(self):
        return self._payload


class _FakeRequests(types.ModuleType):
    """requests stand-in: route by URL substring."""

    def __init__(self):
        super().__init__("requests")
        self.routes = []  # (substring, payload-or-callable)

    def _find(self, url, body=None):
        for frag, payload in self.routes:
            if frag in url:
                return _Resp(payload(url, body) if callable(payload) else payload)
        return _Resp(None, ok=False)

    def get(self, url, headers=None, params=None):
        if params:
            url = url + "?" + "&".join(f"{k}={v}" for k, v in params.items())
        return self._find(url)

    def post(self, url, json=None, headers=None):
        return self._find(url, json)


@pytest.fixture()
def fake_requests(monkeypatch):
    _install_shims()
    # geonames.py additionally imports isiter (es2json semantics: true for
    # non-string iterables)
    sys.modules["es2json"].isiter = lambda obj: hasattr(obj, "__iter__") and not isinstance(obj, (str, bytes))
    fake = _FakeRequests()
    monkeypatch.setitem(sys.modules, "requests", fake)
    return fake


def _load_ref(name: str, fake_requests):
    spec = importlib.util.spec_from_file_location(
        f"ref_{name}", f"/root/reference/enrichment/{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.requests = fake_requests
    return mod


def _docs_df(spark, docs: dict[str, dict]):
    return spark.createDataFrame(
        [(rid, json.dumps(d, ensure_ascii=False)) for rid, d in docs.items()],
        "record_id string, doc string",
    )


def _out_docs(df) -> dict[str, dict]:
    return {r.record_id: json.loads(r.doc) for r in df.collect()}


# ---------------------------------------------------------------------------
# EntityFacts
# ---------------------------------------------------------------------------

GND = "118540238"
EF_SAME_AS = [
    {"@id": f"https://d-nb.info/gnd/{GND}", "collection": {"abbr": "DNB", "name": "GND"}},
    {"@id": "http://viaf.org/viaf/44298691",
     "collection": {"abbr": "VIAF", "name": "Virtual International Authority File (VIAF)"}},
    {"@id": "http://www.wikidata.org/entity/Q5879",
     "collection": {"abbr": "WIKIDATA", "name": "Wikidata"}},
    {"@id": "https://de.wikipedia.org/wiki/Johann_Wolfgang_von_Goethe",
     "collection": {"abbr": "dewiki", "name": "Wikipedia (Deutsch)"}},
    {"@id": "http://id.example.org/unknown/1",
     "collection": {"abbr": "NOPE", "name": "Unknown provider"}},
]


def _ef_record():
    return {
        "@id": "https://data.slub-dresden.de/persons/1",
        "sameAs": [
            {
                "@id": f"https://d-nb.info/gnd/{GND}",
                "publisher": {"abbr": "DNB"},
                "isBasedOn": {"@type": "Dataset", "@id": "http://example.org/src/1"},
            }
        ],
    }


@needs_reference("enrichment/entityfacts.py")
def test_entityfacts_parity(spark, fake_requests):
    ref = _load_ref("entityfacts", fake_requests)
    fake_requests.routes = [(f"/{GND}", {"sameAs": copy.deepcopy(EF_SAME_AS)})]
    theirs = ref.entityfacts(_ef_record(), ["http://ef.example.org/"])
    assert theirs is not None  # fixture must actually enrich

    from esmarc_spark.pipeline.bots import enrich_entityfacts

    records = _docs_df(spark, {"r1": _ef_record()})
    ef = spark.createDataFrame(
        [(GND, json.dumps(EF_SAME_AS))], "gnd_id string, ef_same_as string"
    )
    ours = _out_docs(enrich_entityfacts(records, ef))
    assert ours == {"r1": theirs}


def test_entityfacts_unchanged_record_dropped(spark, fake_requests):
    # EF returns only the d-nb link itself -> nothing new -> no output row
    from esmarc_spark.pipeline.bots import enrich_entityfacts

    only_dnb = [EF_SAME_AS[0]]
    records = _docs_df(spark, {"r1": _ef_record()})
    ef = spark.createDataFrame(
        [(GND, json.dumps(only_dnb))], "gnd_id string, ef_same_as string"
    )
    assert enrich_entityfacts(records, ef).count() == 0


# ---------------------------------------------------------------------------
# Wikidata
# ---------------------------------------------------------------------------

WD_URI = "http://www.wikidata.org/entity/Q5879"


def _wd_record():
    return {
        "@id": "https://data.slub-dresden.de/persons/2",
        "sameAs": [
            {"@id": f"https://d-nb.info/gnd/{GND}", "publisher": {"abbr": "DNB"},
             "isBasedOn": {"@type": "Dataset", "@id": "http://example.org/src/1"}},
            {"@id": "http://viaf.org/viaf/44298691", "publisher": {"abbr": "VIAF"},
             "isBasedOn": {"@type": "Dataset", "@id": "http://example.org/src/1"}},
        ],
    }


@needs_reference("enrichment/wikidata.py")
def test_wikidata_parity(spark, fake_requests):
    ref = _load_ref("wikidata", fake_requests)
    fake_requests.routes = [
        ("query.wikidata.org", {"results": {"bindings": [{"item": {"value": WD_URI}}]}})
    ]
    rec = _wd_record()
    theirs = ref.get_wdid([x["@id"] for x in rec["sameAs"]], rec)
    assert theirs is not None

    from esmarc_spark.pipeline.bots import enrich_wikidata

    records = _docs_df(spark, {"r1": _wd_record()})
    # the dataset stand-in: both mapped identifier systems resolve to Q5879
    wd = spark.createDataFrame(
        [("P227", GND, WD_URI), ("P214", "44298691", WD_URI)],
        "property string, value string, wd_uri string",
    )
    ours = _out_docs(enrich_wikidata(records, wd))
    assert ours == {"r1": theirs}


def test_wikidata_skips_already_enriched(spark):
    from esmarc_spark.pipeline.bots import enrich_wikidata

    rec = _wd_record()
    rec["sameAs"].append(
        {"@id": WD_URI, "publisher": {"abbr": "WIKIDATA"},
         "isBasedOn": {"@type": "Dataset", "@id": WD_URI}}
    )
    records = _docs_df(spark, {"r1": rec})
    wd = spark.createDataFrame(
        [("P227", GND, WD_URI)], "property string, value string, wd_uri string"
    )
    assert enrich_wikidata(records, wd).count() == 0


# ---------------------------------------------------------------------------
# GND Sachgruppen
# ---------------------------------------------------------------------------

FOS_ID = "4053311-6"
GND_SRC = {
    "gndSubjectCategory": [
        {"id": "https://d-nb.info/standards/vocab/gnd/gnd-sc#16.5"}
    ],
    "fieldOfStudy": [{"id": f"https://d-nb.info/gnd/{FOS_ID}"}],
    "fieldOfActivity": ["https://d-nb.info/gnd/4066399-1"],
}
FOS_SRC = {
    "relatedDdcWithDegreeOfDeterminacy3": [
        {"id": "http://dewey.info/class/943/e23/"}
    ],
    "preferredNameForTheSubjectHeading": "Geschichte",
}
SUBJ_LABEL = "Schule  und\n   Erziehung"


def _sach_record(about=None):
    rec = {
        "@id": "https://data.slub-dresden.de/persons/3",
        "sameAs": [
            {"@id": f"https://d-nb.info/gnd/{GND}", "publisher": {"abbr": "DNB"},
             "isBasedOn": {"@type": "Dataset", "@id": "http://example.org/src/1"}}
        ],
    }
    if about is not None:
        rec["about"] = about
    return rec


def _sach_routes():
    return [
        (f"/gnd-records/record/{GND}", {"_source": copy.deepcopy(GND_SRC)}),
        (f"/gnd-records/record/{FOS_ID}", {"_source": copy.deepcopy(FOS_SRC)}),
        ("/gnd-subjects/subject/_search",
         {"hits": {"total": 1,
                   "hits": [{"_source": {"skos:prefLabel": {"@value": SUBJ_LABEL}}}]}}),
    ]


@pytest.mark.parametrize(
    "about",
    [
        None,
        {"@id": "https://d-nb.info/gnd/4066399-1", "name": "existing"},  # dup vs fieldOfActivity
        [{"@id": "http://other.example.org/x", "name": "other"}],
    ],
    ids=["no-about", "dict-about-dup", "list-about"],
)
@needs_reference("enrichment/gnd_sachgruppen.py")
def test_sachgruppen_parity(spark, fake_requests, about):
    ref = _load_ref("gnd_sachgruppen", fake_requests)
    fake_requests.routes = _sach_routes()
    theirs = ref.process(_sach_record(copy.deepcopy(about)), GND, "http://gnd.example.org")
    assert theirs is not None

    from esmarc_spark.pipeline.bots import enrich_sachgruppen

    records = _docs_df(spark, {"r1": _sach_record(copy.deepcopy(about))})
    gnd_records = spark.createDataFrame(
        [(GND, json.dumps(GND_SRC)), (FOS_ID, json.dumps(FOS_SRC))],
        "gnd_id string, src string",
    )
    gnd_subjects = spark.createDataFrame(
        [("https://d-nb.info/standards/vocab/gnd/gnd-sc#16.5", SUBJ_LABEL)],
        "subject_id string, pref_label string",
    )
    ours = _out_docs(enrich_sachgruppen(records, gnd_records, gnd_subjects))
    assert ours == {"r1": theirs}


# ---------------------------------------------------------------------------
# Wikipedia sitelinks
# ---------------------------------------------------------------------------

WD_ID = "Q1731"
SITELINKS = {
    "dewiki": {"url": "https://de.wikipedia.org/wiki/Dresden", "title": "Dresden"},
    "enwiki": {"url": "https://en.wikipedia.org/wiki/Dresden", "title": "Dresden"},
}


def _wp_record(obsolete_dewiki=False):
    rec = {
        "@id": "https://data.slub-dresden.de/geo/4",
        "sameAs": [
            {"@id": f"http://www.wikidata.org/entity/{WD_ID}",
             "publisher": {"abbr": "WIKIDATA"},
             "isBasedOn": {"@type": "Dataset", "@id": f"http://www.wikidata.org/entity/{WD_ID}"}},
        ],
    }
    if obsolete_dewiki:
        rec["sameAs"].append(
            {"@id": "https://de.wikipedia.org/wiki/Dresden_OLD",
             "publisher": {"abbr": "dewiki", "preferredName": "Wikipedia (Deutsch)"},
             "isBasedOn": {"@type": "Dataset",
                           "@id": "http://hub.culturegraph.org/entityfacts/1"}}
        )
    return rec


@pytest.mark.parametrize("obsolete", [False, True], ids=["append", "replace-obsolete"])
@needs_reference("enrichment/wikipedia.py")
def test_wikipedia_sitelinks_parity(spark, fake_requests, obsolete):
    ref = _load_ref("wikipedia", fake_requests)
    fake_requests.routes = [
        ("wikidata.org/w/api.php",
         {"entities": {WD_ID: {"sitelinks": copy.deepcopy(SITELINKS)}}})
    ]
    theirs = ref.get_wpinfo(_wp_record(obsolete))
    assert theirs is not None

    from esmarc_spark.pipeline.bots import enrich_wikipedia_sitelinks

    records = _docs_df(spark, {"r1": _wp_record(obsolete)})
    sitelinks = spark.createDataFrame(
        [(WD_ID, site, info["url"], info["title"]) for site, info in SITELINKS.items()],
        "wd_id string, site string, url string, title string",
    )
    ours = _out_docs(enrich_wikipedia_sitelinks(records, sitelinks))
    assert ours == {"r1": theirs}
    if obsolete:  # the obsolete-provider link must be REPLACED, not kept
        de_links = [s for s in ours["r1"]["sameAs"]
                    if s["publisher"].get("abbr") == "dewiki"]
        assert de_links == [{"@id": SITELINKS["dewiki"]["url"],
                             "publisher": {"abbr": "dewiki",
                                           "preferredName": "Wikipedia (Deutsch)"},
                             "isBasedOn": {"@type": "Dataset",
                                           "@id": f"http://www.wikidata.org/entity/{WD_ID}"}}]


# ---------------------------------------------------------------------------
# Wikipedia categories
# ---------------------------------------------------------------------------

WP_PAGES = {
    "1001": {"title": "Kategorie:Stadt in Sachsen"},
    "1002": {"title": "Kategorie:Dresden"},
}


def _wpcat_record():
    return {
        "@id": "https://data.slub-dresden.de/geo/5",
        "sameAs": [
            {"@id": "https://de.wikipedia.org/wiki/Dresden",
             "publisher": {"abbr": "dewiki"},
             "isBasedOn": {"@type": "Dataset", "@id": "http://www.wikidata.org/entity/Q1731"}},
        ],
    }


@needs_reference("enrichment/wikipedia_categories.py")
def test_wikipedia_categories_parity(spark, fake_requests):
    ref = _load_ref("wikipedia_categories", fake_requests)
    fake_requests.routes = [
        ("de.wikipedia.org/w/api.php", {"query": {"pages": copy.deepcopy(WP_PAGES)}})
    ]
    theirs = ref.get_wpcategories(_wpcat_record())
    assert theirs is not None

    from esmarc_spark.pipeline.bots import enrich_wikipedia_categories

    records = _docs_df(spark, {"r1": _wpcat_record()})
    pages = spark.createDataFrame(
        [("de", "Dresden", int(pid), data["title"]) for pid, data in WP_PAGES.items()],
        "cc string, wp_title string, page_id long, page_title string",
    )
    ours = _out_docs(enrich_wikipedia_categories(records, pages))
    assert ours == {"r1": theirs}


# ---------------------------------------------------------------------------
# GeoNames
# ---------------------------------------------------------------------------

GEONAMES_FIXTURE = [
    # id, name, alternateName, lat, lon  (Dresden Altmarkt ~ 51.0493, 13.7381)
    ("2935022", "Dresden Altstadt", ["Altstadt"], 51.0495, 13.7383),
    ("2935023", "Elbflorenz", ["Dresden"], 51.0490, 13.7378),
    ("2935024", "Leipzig Zentrum", ["Leipzig"], 51.0496, 13.7380),
    ("2935099", "Radebeul", ["Loessnitz"], 51.10, 13.66),  # ~6km away
]


def _gn_record():
    return {
        "@id": "https://data.slub-dresden.de/geo/6",
        "preferredName": "Dresden",
        "geo": {"latitude": "51.0493", "longitude": "13.7381"},
        "sameAs": [
            {"@id": f"https://d-nb.info/gnd/{GND}", "publisher": {"abbr": "DNB"},
             "isBasedOn": {"@type": "Dataset", "@id": "http://example.org/src/1"}}
        ],
    }


@needs_reference("enrichment/geonames.py")
def test_geonames_parity(spark, fake_requests, monkeypatch):
    import math

    # the reference imports the elasticsearch package (absent) — shim it
    es_mod = types.ModuleType("elasticsearch")
    es_mod.exceptions = types.SimpleNamespace(RequestError=RuntimeError)
    monkeypatch.setitem(sys.modules, "elasticsearch", es_mod)
    ref = _load_ref("geonames", fake_requests)

    def hav_km(lat1, lon1, lat2, lon2):
        la1, la2 = math.radians(lat1), math.radians(lat2)
        dlat, dlon = la2 - la1, math.radians(lon2 - lon1)
        h = math.sin(dlat / 2) ** 2 + math.cos(la1) * math.cos(la2) * math.sin(dlon / 2) ** 2
        return 2 * 6371.0088 * math.asin(math.sqrt(h))

    def fake_esgenerator(headless, host, port, index, type, body):
        loc = body["query"]["bool"]["filter"]["geo_distance"]["location"]
        for gid, name, alt, lat, lon in sorted(GEONAMES_FIXTURE):
            if hav_km(loc["lat"], loc["lon"], lat, lon) <= 0.1:
                yield {"id": gid, "name": name, "alternateName": alt}

    ref.esgenerator = fake_esgenerator
    theirs = ref.get_gnid_by_es(_gn_record(), "h", 9200, "geonames", "record")
    assert theirs is not None
    # sanity: containment + alternateName matched, non-matching name didn't
    gn_ids = [s["@id"] for s in theirs["sameAs"] if "geonames" in s["@id"]]
    assert gn_ids == ["https://sws.geonames.org/2935022/",
                      "https://sws.geonames.org/2935023/"]

    from esmarc_spark.pipeline.bots import enrich_geonames

    records = _docs_df(spark, {"r1": _gn_record()})
    geonames = spark.createDataFrame(
        GEONAMES_FIXTURE,
        "id string, name string, alternate_names array<string>, lat double, lon double",
    )
    ours = _out_docs(enrich_geonames(records, geonames))
    assert ours == {"r1": theirs}


def test_geonames_no_candidates_drops_record(spark):
    from esmarc_spark.pipeline.bots import enrich_geonames

    rec = _gn_record()
    rec["geo"] = {"latitude": "10.0", "longitude": "10.0"}  # nothing nearby
    records = _docs_df(spark, {"r1": rec})
    geonames = spark.createDataFrame(
        GEONAMES_FIXTURE,
        "id string, name string, alternate_names array<string>, lat double, lon double",
    )
    assert enrich_geonames(records, geonames).count() == 0


# ---------------------------------------------------------------------------
# ADVICE r2 regressions: ANSI-safe key extraction, caller-level geonames
# gate, all-or-nothing category semantics
# ---------------------------------------------------------------------------


def _no_gnd_record():
    return {
        "@id": "https://data.slub-dresden.de/persons/2",
        "sameAs": [
            {"@id": "http://viaf.org/viaf/123", "publisher": {"abbr": "VIAF"},
             "isBasedOn": {"@type": "Dataset", "@id": "http://example.org/src/2"}}
        ],
    }


def test_entityfacts_skips_records_without_gnd(spark):
    # ANSI mode: element_at(empty, -1) used to ABORT the whole job before
    # the isNotNull guard ran (ADVICE r2 high) — records without a
    # d-nb.info sameAs must simply be skipped (ref entityfacts.py:84-86)
    from esmarc_spark.pipeline.bots import enrich_entityfacts

    records = _docs_df(
        spark,
        {
            "r1": _ef_record(),
            "r2": _no_gnd_record(),
            "r3": {"@id": "https://data.slub-dresden.de/persons/3"},
        },
    )
    ef = spark.createDataFrame(
        [(GND, json.dumps(EF_SAME_AS))], "gnd_id string, ef_same_as string"
    )
    assert set(_out_docs(enrich_entityfacts(records, ef))) == {"r1"}


def test_sitelinks_skips_records_without_wikidata(spark):
    # same ANSI trap for element_at(..., 1) on the wikidata uri
    from esmarc_spark.pipeline.bots import enrich_wikipedia_sitelinks

    records = _docs_df(
        spark, {"r1": _wp_record(False), "r2": _no_gnd_record()}
    )
    sitelinks = spark.createDataFrame(
        [(WD_ID, site, info["url"], info["title"]) for site, info in SITELINKS.items()],
        "wd_id string, site string, url string, title string",
    )
    assert set(_out_docs(enrich_wikipedia_sitelinks(records, sitelinks))) == {"r1"}


def test_geonames_already_enriched_gate(spark):
    # both reference paths exclude already-geonames-enriched records BEFORE
    # the bot runs (stdin gate geonames.py:129 / ES must_not :137); a record
    # carrying a sws.geonames sameAs NODE must not be re-enriched
    from esmarc_spark.pipeline.bots import enrich_geonames

    rec = _gn_record()
    rec["sameAs"].append(
        {"@id": "https://sws.geonames.org/2935022/",
         "publisher": {"abbr": "geonames", "preferredName": "GeoNames",
                       "isBasedOn": {"@type": "Dataset",
                                     "@id": "https://sws.geonames.org/2935022/"}}}
    )
    records = _docs_df(spark, {"r1": rec})
    geonames = spark.createDataFrame(
        GEONAMES_FIXTURE,
        "id string, name string, alternate_names array<string>, lat double, lon double",
    )
    assert enrich_geonames(records, geonames).count() == 0


def _two_wiki_record():
    rec = _wpcat_record()
    rec["sameAs"].append(
        {"@id": "https://en.wikipedia.org/wiki/Dresden",
         "publisher": {"abbr": "enwiki"},
         "isBasedOn": {"@type": "Dataset",
                       "@id": "http://www.wikidata.org/entity/Q1731"}}
    )
    return rec


@needs_reference("enrichment/wikipedia_categories.py")
def test_wpcat_barren_title_drops_whole_record(spark, fake_requests):
    # ref :74-78: a pages-less API response for ANY link raises KeyError ->
    # None for the whole record, discarding the other links' categories
    ref = _load_ref("wikipedia_categories", fake_requests)
    fake_requests.routes = [
        ("de.wikipedia.org/w/api.php", {"query": {"pages": copy.deepcopy(WP_PAGES)}}),
        ("en.wikipedia.org/w/api.php", {"query": {}}),
    ]
    rec = _two_wiki_record()
    assert ref.get_wpcategories(rec) is None

    from esmarc_spark.pipeline.bots import enrich_wikipedia_categories

    records = _docs_df(spark, {"r1": rec})
    pages = spark.createDataFrame(  # the en link joins ZERO pages
        [("de", "Dresden", int(pid), d["title"]) for pid, d in WP_PAGES.items()],
        "cc string, wp_title string, page_id long, page_title string",
    )
    assert enrich_wikipedia_categories(records, pages).count() == 0


@needs_reference("enrichment/wikipedia_categories.py")
def test_wpcat_multi_link_parity(spark, fake_requests):
    ref = _load_ref("wikipedia_categories", fake_requests)
    en_pages = {"2001": {"title": "Category:Cities in Saxony"}}
    fake_requests.routes = [
        ("de.wikipedia.org/w/api.php", {"query": {"pages": copy.deepcopy(WP_PAGES)}}),
        ("en.wikipedia.org/w/api.php", {"query": {"pages": copy.deepcopy(en_pages)}}),
    ]
    rec = _two_wiki_record()
    theirs = ref.get_wpcategories(copy.deepcopy(rec))
    assert theirs is not None and set(theirs["category"]) == {"de", "en"}

    from esmarc_spark.pipeline.bots import enrich_wikipedia_categories

    records = _docs_df(spark, {"r1": rec})
    rows = [("de", "Dresden", int(pid), d["title"]) for pid, d in WP_PAGES.items()]
    rows += [("en", "Dresden", int(pid), d["title"]) for pid, d in en_pages.items()]
    pages = spark.createDataFrame(
        rows, "cc string, wp_title string, page_id long, page_title string"
    )
    ours = _out_docs(enrich_wikipedia_categories(records, pages))
    assert ours == {"r1": theirs}


@needs_reference("enrichment/wikipedia_categories.py")
def test_wpcat_malformed_link_does_not_abort(spark, fake_requests):
    # a sameAs id containing "wikipedia" with too few slash parts used to
    # ANSI-abort the whole job at the element_at(split, 3); the reference
    # IndexErrors on it — we skip the malformed link (documented
    # divergence) and still enrich via the valid one
    ref = _load_ref("wikipedia_categories", fake_requests)
    fake_requests.routes = [
        ("de.wikipedia.org/w/api.php", {"query": {"pages": copy.deepcopy(WP_PAGES)}}),
    ]
    theirs = ref.get_wpcategories(_wpcat_record())  # valid link only

    from esmarc_spark.pipeline.bots import enrich_wikipedia_categories

    rec = _wpcat_record()
    rec["sameAs"].append({"@id": "wikipedia", "publisher": {"abbr": "junk"}})
    records = _docs_df(spark, {"r1": rec})
    pages = spark.createDataFrame(
        [("de", "Dresden", int(pid), d["title"]) for pid, d in WP_PAGES.items()],
        "cc string, wp_title string, page_id long, page_title string",
    )
    ours = _out_docs(enrich_wikipedia_categories(records, pages))
    assert set(ours) == {"r1"}
    # categories identical to the reference's valid-link-only outcome
    assert ours["r1"]["category"] == theirs["category"]


def test_geonames_record_without_sameas(spark):
    # geo coordinates but no sameAs key: the reference TypeErrors
    # iterating None (geonames.py:51); we enrich it (creating sameAs)
    from esmarc_spark.pipeline.bots import enrich_geonames

    rec = _gn_record()
    del rec["sameAs"]
    records = _docs_df(spark, {"r1": rec})
    geonames = spark.createDataFrame(
        GEONAMES_FIXTURE,
        "id string, name string, alternate_names array<string>, lat double, lon double",
    )
    out = _out_docs(enrich_geonames(records, geonames))
    assert set(out) == {"r1"}
    gn = [s["@id"] for s in out["r1"]["sameAs"]]
    assert gn == ["https://sws.geonames.org/2935022/",
                  "https://sws.geonames.org/2935023/"]
