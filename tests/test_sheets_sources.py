"""S2 Sheets tab sweep, S9 transpose scan + S5 multi-sheet reader logic."""

import sys
import types

import pytest

from migdar_data_pipelines_spark.sources.sheets import (
    frames_from_sheets,
    sheets_to_rows,
    transpose_grid,
)


def test_transpose_grid(spark):
    # datasets.py:86-104 — first column holds field names; data columns
    # become rows.
    df = spark.createDataFrame(
        [
            ("chart_title", "שכר", "תעסוקה"),
            ("units", "%", "מספר"),
            ("2010", "52.1", "1,234"),
        ],
        "field string, colA string, colB string",
    )
    out = transpose_grid(df, "field")
    rows = {r["__source_col"]: r for r in out.collect()}
    assert set(rows) == {"colA", "colB"}
    assert rows["colA"]["chart_title"] == "שכר"
    assert rows["colA"]["units"] == "%"
    assert rows["colB"]["2010"] == "1,234"


def test_sheets_header_reuse_and_key_filter():
    sheets = {
        "Sheet1": [
            ["migdar_id", "title"],
            ["M1", "a"],
            ["", "dropped - no key"],
            ["M2", "b"],
        ],
        "Sheet2 (deleted)": [["migdar_id", "title"], ["MX", "skipped"]],
        "Sheet3": [  # no header row: reuses Sheet1's (gdrive loader :30-41)
            ["M3", "c"],
            [None, "dropped"],
        ],
    }
    header, rows = sheets_to_rows(sheets, "migdar_id")
    assert header == ["migdar_id", "title", "__sheet"]
    assert [(r["migdar_id"], r["__sheet"]) for r in rows] == [
        ("M1", "Sheet1"),
        ("M2", "Sheet1"),
        ("M3", "Sheet3"),
    ]


def test_sheets_synthetic_ids():
    # S10 (obsolete/join_publications.py:26-36): key synthesized per row
    sheets = {"s1": [["migdar_id", "v"], ["", "x"], [None, "y"]]}
    _, rows = sheets_to_rows(sheets, "migdar_id", id_template="{sheet}-{rownum}")
    assert [r["migdar_id"] for r in rows] == ["s1-0", "s1-1"]


def test_sheets_missing_header_raises():
    with pytest.raises(ValueError, match="lacks"):
        sheets_to_rows({"only": [["a", "b"], ["1", "2"]]}, "migdar_id")


def test_frames_from_sheets(spark):
    sheets = {"s": [["migdar_id", "n"], ["M1", 5], ["M2", None]]}
    df = frames_from_sheets(spark, sheets, "migdar_id")
    assert df.columns == ["migdar_id", "n", "__sheet"]
    got = {r["migdar_id"]: r["n"] for r in df.collect()}
    assert got == {"M1": "5", "M2": None}  # all-string load (INFER_STRINGS)


class FakeSheetsSession:
    """Serves the Sheets-API tab listing (publications.py:36-48 shape) and
    each tab's CSV export text (``csvs``, keyed by gid), and records every
    request."""

    def __init__(self, doc_id, n_tabs, csvs=None):
        self.doc_id = doc_id
        self.n_tabs = n_tabs
        self.csvs = csvs or {}
        self.calls = []

    def get(self, url, params=None):
        self.calls.append((url, params))
        if "format=csv" in url:
            return types.SimpleNamespace(text=self.csvs[int(url.rsplit("gid=", 1)[1])])
        payload = {
            "sheets": [
                {"properties": {"sheetId": 1000 + i, "title": f"tab {i}"}}
                for i in range(self.n_tabs)
            ]
        }
        return types.SimpleNamespace(json=lambda: payload)


def test_enumerate_tabs_api_contract():
    # the reference's sheet has 36 tabs (publications.py:36-48)
    from migdar_data_pipelines_spark.sources.sheets import enumerate_tabs

    session = FakeSheetsSession("DOC123", 36)
    tabs = enumerate_tabs("DOC123", session=session)
    assert len(tabs) == 36
    url, params = session.calls[0]
    assert url == "https://sheets.googleapis.com/v4/spreadsheets/DOC123"
    # same field projection the reference requests
    assert params["fields"] == "sheets(properties(sheetId,title))"
    assert tabs[0]["gid"] == 1000 and tabs[0]["title"] == "tab 0"
    assert tabs[0]["edit_url"].endswith("/d/DOC123/edit#gid=1000")
    assert tabs[0]["csv_url"].endswith("/d/DOC123/export?format=csv&gid=1000")


def test_sheets_tabs_source_union(spark):
    """Tab sweep -> per-tab CSV -> ragged union with gid stamp + __ord."""
    from migdar_data_pipelines_spark.sources.sheets import sheets_tabs_source

    csvs = {
        1000: "migdar_id,title\nM1,first\nM2,second\n",
        1001: "migdar_id,title,extra\nM3,third,x\n",  # ragged: extra column
    }
    session = FakeSheetsSession("DOC123", 2, csvs)
    out = sheets_tabs_source(spark, "DOC123", session=session)
    # the tab listing, then each tab's CSV export, through the one session
    assert [url.rsplit("/", 1)[1] for url, _ in session.calls] == [
        "DOC123",
        "export?format=csv&gid=1000",
        "export?format=csv&gid=1001",
    ]
    rows = {r["migdar_id"]: r for r in out.collect()}
    assert set(rows) == {"M1", "M2", "M3"}
    assert rows["M1"]["__tab"] == "1000" and rows["M3"]["__tab"] == "1001"
    assert rows["M1"]["extra"] is None  # null-filled ragged column
    ordered = [r["migdar_id"] for r in out.orderBy("__ord").collect()]
    assert ordered == ["M1", "M2", "M3"]  # tab-major, row-minor order


def test_sheets_tabs_source_keeps_na_like_text(spark):
    """A tab is an all-string load: only a blank cell is null. Cells whose
    text pandas would read as missing by default (NA, null, None, N/A)
    keep their text."""
    from migdar_data_pipelines_spark.sources.sheets import sheets_tabs_source

    csv = "migdar_id,title\nM1,NA\nM2,null\nM3,None\nM4,\nM5,N/A\n"
    session = FakeSheetsSession("DOC123", 1, {1000: csv})
    out = sheets_tabs_source(spark, "DOC123", session=session)
    titles = {r["migdar_id"]: r["title"] for r in out.collect()}
    assert titles == {"M1": "NA", "M2": "null", "M3": "None", "M4": None, "M5": "N/A"}


def test_publications_flow_via_sheets_connector(spark, tmp_path):
    """S2 end-to-end: publications_flow with NO injected search_import pulls
    the frame through the tab-enumeration connector (fake API + CSVs) and
    produces the same canonicalized output shape."""
    from migdar_data_pipelines_spark.pipelines import PipelineContext
    from migdar_data_pipelines_spark.pipelines.flows import publications_flow
    from migdar_data_pipelines_spark.sinks import dump_to_path

    # materialize a minimal zotero_fetch stage for the union side
    zotero = spark.createDataFrame(
        [("Z1", "zotero title")], "migdar_id string, title string"
    )
    dump_to_path({"zotero": zotero}, str(tmp_path / "zotero_fetch"))

    translations = spark.createDataFrame(
        [("בריאות", "בריאות", "health", "health_ar")],
        "key string, hebrew string, english string, arabic string",
    )
    csvs = {
        1000: 'migdar_id,title,pubyear,Life Domains\nM1,t1,2015,בריאות\n,no key - dropped,2001,\n',
        1001: "migdar_id,title,pubyear\nNone,none key - dropped,2002\nM2,t2,1999\n",
    }
    ctx = PipelineContext(
        spark=spark,
        data_dir=str(tmp_path),
        sources={"translations": translations},
        params={
            "sheets_doc_id": "DOC123",
            "sheets_session": FakeSheetsSession("DOC123", 2, csvs),
        },
    )
    pubs = publications_flow(ctx)["publications"]
    rows = {r["migdar_id"]: r for r in pubs.collect()}
    assert set(rows) == {"M1", "M2", "Z1"}  # keyless/'None' rows dropped
    assert rows["M1"]["doc_id"] == "publications/M1"
    assert rows["M1"]["year"] == 2015 and rows["M2"]["year"] == 1999


def test_sheets_tabs_source_builds_default_session(spark, monkeypatch):
    """The live-network default path (no session injected) must build its
    own requests.Session and thread it through BOTH the tab enumeration and
    the CSV fetch. requests is faked at the module level so the default
    path runs without network."""
    from migdar_data_pipelines_spark.sources.sheets import sheets_tabs_source

    class FakeResp:
        def __init__(self, url):
            self.url = url

        def json(self):
            return {
                "sheets": [
                    {"properties": {"sheetId": 7, "title": "tab"}},
                ]
            }

        @property
        def text(self):
            return "a,b\n1,2\n"

    class FakeSession:
        made = []

        def __init__(self):
            self.gets = []
            FakeSession.made.append(self)

        def get(self, url, params=None):
            self.gets.append(url)
            return FakeResp(url)

    fake = types.ModuleType("requests")
    fake.Session = FakeSession
    monkeypatch.setitem(sys.modules, "requests", fake)

    df = sheets_tabs_source(spark, "docid")
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["a"] == "1" and rows[0]["__tab"] == "7"
    (session,) = FakeSession.made
    assert [u.rsplit("/", 1)[1] for u in session.gets] == ["docid", "export?format=csv&gid=7"]


@pytest.mark.parametrize("failing", ["csv", "tabs"])
def test_failed_sheet_fetch_is_reported(spark, monkeypatch, failing):
    """An error page from the tab listing or a tab's CSV export raises with
    its HTTP status instead of being parsed as tabs or rows."""
    from migdar_data_pipelines_spark.sources.sheets import sheets_tabs_source

    class FakeResp:
        def __init__(self, url):
            self.status_code = 403 if ("format=csv" in url) == (failing == "csv") else 200

        def json(self):
            if self.status_code != 200:
                return {"error": {"code": 403, "message": "forbidden"}}
            return {"sheets": [{"properties": {"sheetId": 7, "title": "tab"}}]}

        @property
        def text(self):
            if self.status_code != 200:
                return "<html><body><p>403 Forbidden</p></body></html>\n"
            return "a,b\n1,2\n"

    class FakeSession:
        def get(self, url, params=None):
            return FakeResp(url)

    fake = types.ModuleType("requests")
    fake.Session = FakeSession
    monkeypatch.setitem(sys.modules, "requests", fake)

    with pytest.raises(RuntimeError, match="403"):
        sheets_tabs_source(spark, "docid")


def test_publications_flow_via_sheets_connector_runs_no_python(spark, tmp_path):
    """The production publications path (no injected search_import) builds
    each tab as a local relation: its plan holds no Python RDD scan."""
    from migdar_data_pipelines_spark.pipelines import PipelineContext
    from migdar_data_pipelines_spark.pipelines.flows import publications_flow
    from migdar_data_pipelines_spark.session import local_df
    from migdar_data_pipelines_spark.sinks import dump_to_path

    zotero = local_df(spark, [("Z1", "zotero title")], "migdar_id string, title string")
    dump_to_path({"zotero": zotero}, str(tmp_path / "zotero_fetch"))
    translations = local_df(
        spark,
        [("בריאות", "בריאות", "health", "health_ar")],
        "key string, hebrew string, english string, arabic string",
    )
    csvs = {
        1000: "migdar_id,title,pubyear,Life Domains\nM1,t1,2015,בריאות\n",
        1001: "migdar_id,title,pubyear\nM2,t2,1999\n",
    }
    ctx = PipelineContext(
        spark=spark,
        data_dir=str(tmp_path),
        sources={"translations": translations},
        params={
            "sheets_doc_id": "DOC123",
            "sheets_session": FakeSheetsSession("DOC123", 2, csvs),
        },
    )
    pubs = publications_flow(ctx)["publications"]
    assert pubs.count() == 3
    assert "ExistingRDD" not in pubs._jdf.queryExecution().executedPlan().toString()
