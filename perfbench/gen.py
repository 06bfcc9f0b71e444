"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes only under the directory it is given. The same seed
gives byte-identical inputs; a different seed changes the rows themselves
(keys, values, dates, texts), not just their order. Row counts are fixed per
scale, so run time does not drift with the seed.

* ``portal_corpus`` — the yodaat.org portal sources the seven-pipeline DAG
  reads (orgs, zotero items, search_import, datasets_wide, translations),
  shaped like the pipeline test fixtures: duplicate entity ids, blank and
  ``'None'`` keys, URLs without a scheme, forward-fill gaps in the wide
  chart sheet, Hebrew/English translation keys with near-miss spellings and
  nested zotero tags/creators. It also returns the row counts each pipeline
  resource must have, computed independently of the engine. ``check_link``
  is the network-free link checker the broken_links pipeline is given.
* ``sf_tables`` — TPC-H-like ``region/nation/customer/supplier/part/orders/
  lineitem`` plus ``events`` and ``documents``, with the schemas, key
  spaces and value ranges of the registry's sf0.1 testdata, at ``scale`` x
  sf0.1 row counts.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# portal corpus (pipelines/flows.py inputs)
# --------------------------------------------------------------------------

HEB = "אבגדהוזחטיכלמנסעפצקרשת"
ARB = "ابتثجحخدذرزسشصضطظعغفقكلمنهوي"
LATIN = "abcdefghijklmnopqrstuvwxyz"
CHART_LABELS = ("קו", "עמודות", "עמודות מוערמות", "עוגה")
YEARS = [str(y) for y in range(2000, 2020)]

# Source rows at scale 1. The reference's publications path carries 389 to
# 2,052 rows (QUICKSTART.md:312,364, cited in SURVEY.md's baseline table);
# 1,080 zotero items and 1,080 search_import rows give about 2,050
# publications. The other sources keep the proportions of a measured
# prototype of this DAG (50k orgs, zotero items and search_import rows each,
# 10k datasets_wide rows, 400 translation keys): about 48 charts, near the
# reference's 52 chart sheet tabs. The translation sheet is a fixed vocabulary: 200
# concepts, one Hebrew and one English key each, the prototype's 400 keys.
PORTAL_BASE = {"orgs": 1080, "zotero": 1080, "search": 1080, "wide": 216}
CONCEPTS = 200

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")
_ALNUM_START_RE = re.compile(r"^[a-zA-Z0-9]")
_URL_RE = re.compile(r"https?://[^\s\"'<>)]+")


# one link in BROKEN_EVERY answers 404 to the benchmark's link checker
BROKEN_EVERY = 7


def link_broken(url: str) -> bool:
    return zlib.crc32(url.encode()) % BROKEN_EVERY == 0


def check_link(row: dict) -> dict:
    """The link checker the broken_links pipeline is given: no network, the
    status follows from a hash of the URL, so the generator can predict
    which links are broken."""
    if link_broken(row["url"]):
        return {"status": 404, "error": "HTTP 404"}
    return {"status": 200, "error": None}


def _word(rng, alphabet: str, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return "".join(alphabet[i] for i in rng.integers(0, len(alphabet), n))


def _fix_url(u: str | None) -> str | None:
    """Python twin of operators.textops.fix_url, for predicting links."""
    if u is None or _SCHEME_RE.match(u) or not _ALNUM_START_RE.match(u):
        return u
    return "http://" + u


def _url(rng, pool: int, schemeless_p: float) -> str:
    host = f"site{int(rng.integers(0, pool))}.example.org.il"
    path = f"/p{int(rng.integers(0, 50))}" if rng.random() < 0.5 else ""
    if rng.random() < schemeless_p:
        return host + path
    return ("https://" if rng.random() < 0.3 else "http://") + host + path


def _text_with_url(rng, pool: int) -> tuple[str, str | None]:
    words = " ".join(_word(rng, HEB, 2, 6) for _ in range(int(rng.integers(3, 9))))
    if rng.random() < 0.4:
        u = _url(rng, pool, 0.0)
        return f"{words} ראו {u} לפרטים", u
    return words, None


def portal_corpus(rng: np.random.Generator, out_dir: str, scale: float = 1.0):
    """Write the portal sources as parquet under ``out_dir`` and return
    ``(paths, expected)``: ``paths`` maps source name -> parquet path and
    ``expected`` maps ``"<pipeline>/<resource>"`` -> predicted row count."""
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(4, int(v * scale)) for k, v in PORTAL_BASE.items()}
    n["concepts"] = CONCEPTS
    url_pool = max(50, n["orgs"] // 2)

    # translations: each concept has a Hebrew and an English key that map to
    # the same (hebrew, english, arabic) triple
    heb_keys, eng_keys, seen = [], [], set()
    while len(heb_keys) < n["concepts"]:
        h, e = _word(rng, HEB, 3, 7), _word(rng, LATIN, 5, 10).capitalize()
        if h in seen or e in seen:
            continue
        seen.update((h, e))
        heb_keys.append(h)
        eng_keys.append(e)
    arb = [_word(rng, ARB, 3, 7) for _ in heb_keys]
    translations = pa.table(
        {
            "key": heb_keys + eng_keys,
            "hebrew": heb_keys + heb_keys,
            "english": eng_keys + eng_keys,
            "arabic": arb + arb,
        }
    )

    def life_areas() -> str:
        k = int(rng.integers(1, 4))
        vals = []
        for i in rng.integers(0, n["concepts"], k):
            v = heb_keys[i] if rng.random() < 0.6 else eng_keys[i]
            if rng.random() < 0.05:  # near-miss spelling -> fuzzy path
                v = v[:-1] + ("x" if v[-1] != "x" else "y")
            vals.append(v)
        return ", ".join(vals)

    links: set[str] = set()

    def note_links(url_field, text_url):
        for u in (_fix_url(url_field), text_url):
            if u is not None:
                links.update(_URL_RE.findall(u))

    # organisations: ~5% reuse an earlier entity id (dedup_suffix renames)
    ids = []
    rows = {k: [] for k in ("entity_id", "org_name", "org_name__en", "org_kind",
                            "objective", "life_areas", "org_website")}
    for i in range(n["orgs"]):
        eid = ids[int(rng.integers(0, len(ids)))] if ids and rng.random() < 0.05 else str(580000 + 3 * i + int(rng.integers(0, 3)))
        ids.append(eid)
        objective, ourl = _text_with_url(rng, url_pool)
        r = rng.random()
        site = None if r < 0.1 else _url(rng, url_pool, 0.5)
        note_links(site, ourl)
        for k, v in (
            ("entity_id", eid),
            ("org_name", "ארגון " + _word(rng, HEB, 3, 8)),
            ("org_name__en", "Org " + _word(rng, LATIN, 3, 8)),
            ("org_kind", ("עמותה", "חברה", "אגודה")[int(rng.integers(0, 3))]),
            ("objective", objective),
            ("life_areas", life_areas()),
            ("org_website", site),
        ):
            rows[k].append(v)
    orgs = pa.table(rows)
    doc_ids = {f"org/{e}" for e in _dedup_suffix(ids)}

    # zotero items: nested tags/creators; ~5% have an empty title (dropped)
    z = {k: [] for k in ("key", "title", "date", "institution", "publication",
                         "publicationTitle", "abstractNote", "language", "tags",
                         "creators", "reportType", "itemKind", "url", "volume")}
    zotero_keys = []
    n_zotero_kept = 0
    for i in range(n["zotero"]):
        key = f"Z{i}_{int(rng.integers(0, 1000))}"
        title = "" if rng.random() < 0.05 else "Study " + _word(rng, LATIN, 4, 10)
        note, nurl = _text_with_url(rng, url_pool)
        url = _url(rng, url_pool, 0.5) if rng.random() < 0.7 else None
        tags = [{"tag": t} for t in (
            ["Domain_" + eng_keys[int(rng.integers(0, n["concepts"]))]]
            + (["Source_Gov"] if rng.random() < 0.5 else ["Resource_Report"])
            + [_word(rng, LATIN, 3, 6) for _ in range(int(rng.integers(0, 3)))]
        )]
        creators = [
            {"creatorType": "author" if rng.random() < 0.8 else "editor",
             "firstName": _word(rng, LATIN, 3, 6).capitalize(),
             "lastName": _word(rng, LATIN, 3, 8).capitalize(),
             "name": None}
            for _ in range(int(rng.integers(0, 4)))
        ]
        if rng.random() < 0.2:
            creators.append({"creatorType": "author", "firstName": None,
                             "lastName": None, "name": "Inst " + _word(rng, LATIN, 3, 6)})
        year = int(rng.integers(1990, 2024))
        for k, v in (
            ("key", key), ("title", title),
            ("date", (f'תשס"ט {year}.', str(year), f"בשנת {year}")[int(rng.integers(0, 3))]),
            ("institution", None if rng.random() < 0.5 else "Inst " + _word(rng, LATIN, 3, 6)),
            ("publication", None if rng.random() < 0.5 else "Journal " + _word(rng, LATIN, 3, 6)),
            ("publicationTitle", None), ("abstractNote", note),
            ("language", ("eng", "heb", "ara")[int(rng.integers(0, 3))]),
            ("tags", tags), ("creators", creators),
            ("reportType", None if rng.random() < 0.7 else "brief"),
            ("itemKind", "report"), ("url", url), ("volume", None),
        ):
            z[k].append(v)
        if title:
            n_zotero_kept += 1
            zotero_keys.append(key)
            doc_ids.add(f"publications/{key}")
            note_links(url, nurl)
    zotero_items = pa.table(
        z,
        schema=pa.schema([
            ("key", pa.string()), ("title", pa.string()), ("date", pa.string()),
            ("institution", pa.string()), ("publication", pa.string()),
            ("publicationTitle", pa.string()), ("abstractNote", pa.string()),
            ("language", pa.string()),
            ("tags", pa.list_(pa.struct([("tag", pa.string())]))),
            ("creators", pa.list_(pa.struct([
                ("creatorType", pa.string()), ("firstName", pa.string()),
                ("lastName", pa.string()), ("name", pa.string())]))),
            ("reportType", pa.string()), ("itemKind", pa.string()),
            ("url", pa.string()), ("volume", pa.string()),
        ]),
    )

    # search_import: blank / 'None' keys (dropped) and ids shared with zotero
    s = {k: [] for k in ("migdar_id", "title", "pubyear", "publisher", "author",
                         "notes", "url", "Life Domains", "Item Type",
                         "Resource Type", "tags", "language_code")}
    n_pubs = n_zotero_kept
    for i in range(n["search"]):
        r = rng.random()
        if r < 0.03:
            mid = ""
        elif r < 0.06:
            mid = "None"
        elif r < 0.08 and zotero_keys:
            mid = zotero_keys[int(rng.integers(0, len(zotero_keys)))]
        else:
            mid = f"M{i}"
        note, nurl = _text_with_url(rng, url_pool)
        url = _url(rng, url_pool, 0.5) if rng.random() < 0.6 else None
        year = int(rng.integers(1990, 2024))
        for k, v in (
            ("migdar_id", mid), ("title", "מחקר " + _word(rng, HEB, 3, 8)),
            ("pubyear", (f'תשע"ה. {year}', f"בשנת {year}", str(year))[int(rng.integers(0, 3))]),
            ("publisher", "None" if rng.random() < 0.1 else "הוצאה " + _word(rng, HEB, 2, 5)),
            ("author", "כהן, " + _word(rng, HEB, 1, 3)), ("notes", note), ("url", url),
            ("Life Domains", life_areas()), ("Item Type", "book"),
            ("Resource Type", "gov"), ("tags", _word(rng, HEB, 3, 6)),
            ("language_code", "heb eng"),
        ):
            s[k].append(v)
        if mid not in ("", "None"):
            n_pubs += 1
            doc_ids.add(f"publications/{mid}")
            note_links(url, nurl)
    search_import = pa.table(s)

    # datasets_wide: chart title only on a chart's first row (forward fill)
    w = {k: [] for k in ("chart_title", "series_title", "chart_type", "units", "source_url")}
    for y in YEARS:
        w[y] = []
    n_charts = 0
    titles = set()
    while len(w["chart_title"]) < n["wide"]:
        title = "תרשים " + _word(rng, HEB, 4, 9)
        if title in titles:
            continue
        titles.add(title)
        n_charts += 1
        label = CHART_LABELS[int(rng.integers(0, len(CHART_LABELS)))]
        src = _url(rng, url_pool, 0.5) if rng.random() < 0.8 else None
        for j in range(int(rng.integers(2, 7))):
            w["chart_title"].append(title if j == 0 else None)
            w["series_title"].append(f"סדרה {j}")
            w["chart_type"].append(label)
            w["units"].append(("אחוזים", "מספר")[int(rng.integers(0, 2))])
            w["source_url"].append(src)
            for yi, y in enumerate(YEARS):
                v = float(rng.integers(0, 10_000_000)) / 100
                p = rng.random()
                if yi > 0 and p < 0.2:
                    w[y].append(None)
                elif p < 0.35:
                    w[y].append(f"{v:.2f}%")
                elif p < 0.5:
                    w[y].append(f"{v:,.2f}")
                else:
                    w[y].append(f"{v:.2f}")
    datasets_wide = pa.table(w)
    doc_ids.update(f"dataset/{t}" for t in titles)  # placeholder ids: count only

    paths = {}
    for name, tbl in (
        ("translations", translations), ("orgs", orgs),
        ("zotero_items", zotero_items), ("search_import", search_import),
        ("datasets_wide", datasets_wide),
    ):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    expected = {
        "organisations/orgs": n["orgs"],
        "datasets/datasets": n_charts,
        "dataset_assets/asset_index": n_charts,
        "zotero_fetch/zotero": n_zotero_kept,
        "publications/publications": n_pubs,
        "sitemap/sitemap_urls": len(doc_ids),
        "broken_links/broken_links": sum(map(link_broken, links)),
        "broken_links/all_links": len(links),
    }
    return paths, expected


def _dedup_suffix(ids: list[str]) -> list[str]:
    """Python twin of operators.windows.dedup_suffix: the k-th repeat of an
    id (in input order) becomes ``id.k``."""
    seen: dict[str, int] = {}
    out = []
    for i in ids:
        k = seen.get(i, 0)
        seen[i] = k + 1
        out.append(i if k == 0 else f"{i}.{k}")
    return out


# --------------------------------------------------------------------------
# sf-shaped relational tables (plans/ registry inputs)
# --------------------------------------------------------------------------

SF01_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000}
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJ = ("large", "hot", "blue", "red", "small", "green", "dark", "light")
NOUN = ("ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days + 1
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def sf_tables(rng: np.random.Generator, out_dir: str, scale: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for every registry table the mix reads under
    ``out_dir``; returns table -> row count."""
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(50, int(v * scale)) for k, v in SF01_ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
    }
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": rng.integers(9000, 10000, p) / 10.0,
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, o),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), o),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), li),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(start + rng.integers(0, 30 * 86_400 * 1_000_000, e).astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, max(10, e // 66), e), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(40.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    tables["documents"] = documents_table(rng, n["documents"])
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


# documents vocabulary (llm/ operators in the registry mix)

VOCAB = (
    "data model river city market policy school health labor family women "
    "study report survey index rate growth income region sector public "
    "private wage gap energy water road house court law vote youth child "
    "north south east west early late rural urban field plant tool craft "
    "paper record letter method value table chart series number level "
    "share group panel sample trend change cause effect risk cost price"
).split()
STOP = ("the", "of", "and", "is", "to", "in", "a", "it")
FRENCH = "le la et les un une des du pour avec dans sur par pas plus".split()


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """The registry's ``documents`` table: English texts over a small
    vocabulary with stopwords, about 8% exact copies and 8% single-word
    edits (shingle Jaccard ~0.9) of earlier documents, and 8% short or
    French texts the curation filters reject."""
    made: list[str] = []
    for _ in range(n):
        r = rng.random()
        if r < 0.08 and made:
            text = made[int(rng.integers(0, len(made)))]
        elif r < 0.16 and made:
            ws = made[int(rng.integers(0, len(made)))].split()
            ws[int(rng.integers(0, len(ws)))] = VOCAB[int(rng.integers(0, len(VOCAB)))] + "s"
            text = " ".join(ws)
        elif r < 0.20:
            text = "short " + _word(rng, LATIN, 3, 6)
        elif r < 0.24:
            text = " ".join(FRENCH[i] for i in rng.integers(0, len(FRENCH), 40))
        else:
            k = int(rng.integers(30, 70))
            ws = [VOCAB[i] for i in rng.integers(0, len(VOCAB), k)]
            for pos in rng.integers(0, k, max(3, k // 5)):
                ws[pos] = STOP[int(rng.integers(0, len(STOP)))]
            text = " ".join(ws)
        made.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": made,
        "lang": np.array(["en", "fr", "und"])[rng.integers(0, 3, n)],
        "source": [f"src{i}" for i in rng.integers(0, 8, n)],
        "n_chars": pa.array([len(t) for t in made], pa.int64()),
    })
