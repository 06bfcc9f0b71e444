"""Sheet-shaped sources: S2 Google-Sheets tab enumeration, S9 matrix
transpose scan, and S5 XLSX multi-sheet reader.

Reference semantics:
- S2 (datapackage_pipelines_migdar/flows/publications.py:36-48): list every
  tab (sheetId 'gid' + title) of a spreadsheet via the Sheets API metadata
  endpoint, then load each tab as its own resource named by gid
  (publications.py:84-93); credentials live outside the code (:24-32).
- S9 (datapackage_pipelines_migdar/flows/datasets.py:86-104): read a sheet's
  raw cell grid, transpose columns->rows; the original first column becomes
  the header row of the transposed table.
- S5 (obsolete/load_publications_from_gdrive.py:14-67): iterate a workbook's
  sheets, skip sheets whose name marks them deleted, reuse sheet 1's header
  row when a later sheet lacks its own, and drop rows without the key column.

One session, injectable for tests, reads both the S2 tab listing and every
tab's CSV export, as the reference's one Sheets session does.

Spark-first: the reference's sheets are dimension-sized (tens of columns x
hundreds of rows), so the grid itself may be collected; but the transpose is
still expressed as melt + pivot so the same code path scales to wide
parquet-backed grids (posexplode keeps it one shuffle, pivot values are
plan-time). The physical XLSX decode needs openpyxl (absent here), so it is
gated; ``sheets_to_rows`` holds all the header/skip/filter logic over
pre-decoded grids and is fully tested.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df

try:  # pragma: no cover - optional dependency
    import openpyxl  # noqa: F401

    HAVE_OPENPYXL = True
except Exception:  # pragma: no cover
    HAVE_OPENPYXL = False


# ------------------------------------------------------------------ S2
SHEETS_API_URL = "https://sheets.googleapis.com/v4/spreadsheets/{doc_id}"
EDIT_URL = "https://docs.google.com/spreadsheets/d/{doc_id}/edit#gid={gid}"
CSV_EXPORT_URL = (
    "https://docs.google.com/spreadsheets/d/{doc_id}/export?format=csv&gid={gid}"
)


def _requests_session():
    try:
        import requests
    except ImportError as exc:
        raise NotImplementedError("requests not installed; inject a session") from exc
    return requests.Session()


def _get(session, url: str, **kwargs):
    """``session.get`` that raises on a non-2xx ``status_code``: an error
    page must not be parsed as tab rows or an empty tab list."""
    resp = session.get(url, **kwargs)
    if not 200 <= getattr(resp, "status_code", 200) < 300:
        raise RuntimeError(f"GET {url} failed with HTTP status {resp.status_code}")
    return resp


def enumerate_tabs(
    doc_id: str,
    session=None,
    api_key: str | None = None,
) -> list[dict[str, Any]]:
    """S2 (publications.py:36-48 ``list_all_sheet_ids``): enumerate every tab
    of a Google spreadsheet from the Sheets API metadata endpoint
    (``fields=sheets(properties(sheetId,title))`` — same projection the
    reference requests). Returns one descriptor per tab with ``gid``,
    ``title``, the reference's ``edit#gid=`` URL form, and the CSV-export URL
    the engine's CSV path consumes.

    ``session`` is injectable (anything with ``.get(url, params=) -> resp``
    exposing ``.json()``) per the SURVEY §7.4 no-live-sessions rule; the
    default builds a ``requests`` session and expects auth via ``api_key``
    or ambient credentials (the reference reads a service-account file,
    publications.py:24-32 — credential material stays outside this repo)."""
    if session is None:  # pragma: no cover - needs network
        session = _requests_session()
    params = {"fields": "sheets(properties(sheetId,title))"}
    if api_key:
        params["key"] = api_key
    payload = _get(session, SHEETS_API_URL.format(doc_id=doc_id), params=params).json()
    tabs = []
    for sheet in payload.get("sheets", []):
        props = sheet["properties"]
        gid = props["sheetId"]
        tabs.append(
            {
                "gid": gid,
                "title": props.get("title", ""),
                "edit_url": EDIT_URL.format(doc_id=doc_id, gid=gid),
                "csv_url": CSV_EXPORT_URL.format(doc_id=doc_id, gid=gid),
            }
        )
    return tabs


def sheets_tabs_source(
    spark: SparkSession,
    doc_id: str,
    session=None,
    api_key: str | None = None,
    tab_col: str = "__tab",
) -> DataFrame:
    """S2 composite (publications.py:84-93 ``base_flow``): enumerate tabs,
    load each tab's CSV export as an all-string frame (INFER_STRINGS /
    CAST_TO_STRINGS parity), stamp the gid as the resource name column, and
    union by name (missing columns null-filled, as dataflows' concatenate
    tolerates ragged tabs).

    One ``session`` serves both the tab listing and each tab's CSV export
    (``.get(url).text``); the default is one ``requests`` session. Tabs are
    dimension-sized (the reference's sheet is 36 tabs of hundreds of rows),
    so the per-tab decode is driver-side pandas — faithful to the
    reference's sequential load and trivially small — and each tab enters
    the plan as a local relation (``local_df``)."""
    import io

    import pandas as pd

    from ..operators.windows import ORD

    if session is None:
        session = _requests_session()
    tabs = enumerate_tabs(doc_id, session=session, api_key=api_key)
    if not tabs:
        raise ValueError(f"spreadsheet {doc_id!r} has no tabs")
    frames = []
    for tab in tabs:
        # only a blank cell is missing: text such as NA, null or None stays
        # text, as an all-string load must keep it
        pdf = pd.read_csv(
            io.StringIO(_get(session, tab["csv_url"]).text),
            dtype=str,
            keep_default_na=False,
            na_values=[""],
        )
        pdf = pdf.where(pdf.notna(), None)
        schema = ", ".join(f"`{c}` string" for c in pdf.columns)
        df = local_df(spark, pdf.itertuples(index=False, name=None), schema)
        frames.append(df.withColumn(tab_col, F.lit(str(tab["gid"]))))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out.withColumn(ORD, F.monotonically_increasing_id())


# ------------------------------------------------------------------ S9
def transpose_grid(df: DataFrame, header_col: str | None = None) -> DataFrame:
    """Transpose: each non-header column becomes a row; ``header_col``'s
    values become the output column names (datasets.py:86-104 — the sheet's
    first column holds the Hebrew metadata field names).

    melt (posexplode, narrow) + pivot on the header values (plan-time value
    list, one shuffle). Output has a ``__source_col`` column carrying the
    original column name — the transposed table's natural order key.
    """
    header_col = header_col or df.columns[0]
    value_cols = [c for c in df.columns if c != header_col]
    headers = [
        r[0]
        for r in df.select(header_col).distinct().collect()
        if r[0] is not None
    ]
    melted = df.select(
        F.col(header_col).alias("__hdr"),
        F.posexplode(
            F.array(*[F.col(c).cast("string") for c in value_cols])
        ).alias("__pos", "__val"),
    )
    out = (
        melted.groupBy("__pos")
        .pivot("__hdr", sorted(headers))
        .agg(F.first("__val"))
    )
    # map position back to the source column name
    name_expr = None
    for i, c in enumerate(value_cols):
        cond = F.col("__pos") == i
        name_expr = (
            F.when(cond, F.lit(c)) if name_expr is None else name_expr.when(cond, F.lit(c))
        )
    return (
        out.withColumn("__source_col", name_expr)
        .orderBy("__pos")
        .drop("__pos")
    )


# ------------------------------------------------------------------ S5
def sheets_to_rows(
    sheets: Mapping[str, list[list[Any]]],
    key_col: str,
    skip_sheet_marker: str = "deleted",
    id_template: str | None = None,
) -> tuple[list[str], list[dict[str, Any]]]:
    """Pure S5 logic over pre-decoded sheet grids (sheet name -> rows of
    cells): skip marked sheets, reuse the first sheet's header when a sheet's
    first row doesn't carry the key column, drop rows whose key cell is
    blank. Optionally synthesize the key as ``id_template.format(sheet=,
    rownum=)`` when a sheet has no key column at all (S10-style synthetic
    ids, obsolete/join_publications.py:26-36).

    Returns (header, row dicts) ready for ``session.local_df``."""
    header: list[str] | None = None
    rows: list[dict[str, Any]] = []
    for sheet_name, grid in sheets.items():
        if skip_sheet_marker and skip_sheet_marker in sheet_name.lower():
            continue
        if not grid:
            continue
        first = [str(c) if c is not None else "" for c in grid[0]]
        if key_col in first:
            sheet_header = first
            data = grid[1:]
        elif header is not None:
            # header reuse (load_publications_from_gdrive.py:30-41)
            sheet_header = header
            data = grid
        else:
            raise ValueError(
                f"sheet {sheet_name!r} lacks a {key_col!r} header and no prior header exists"
            )
        if header is None:
            header = sheet_header
        for i, raw in enumerate(data):
            row = {
                h: (raw[j] if j < len(raw) else None)
                for j, h in enumerate(sheet_header)
            }
            if not row.get(key_col) and id_template:
                row[key_col] = id_template.format(sheet=sheet_name, rownum=i)
            if not row.get(key_col):
                # drop keyless rows (load_publications_from_gdrive.py:22-26)
                continue
            row["__sheet"] = sheet_name
            rows.append(row)
    return (header or []) + ["__sheet"], rows


def load_xlsx_sheets(
    spark: SparkSession,
    path: str,
    key_col: str,
    skip_sheet_marker: str = "deleted",
) -> DataFrame:
    """S5: decode a workbook with openpyxl (gated) and apply sheets_to_rows.
    All cells load as strings (the reference's INFER_STRINGS strategy,
    publications.py:87-90)."""
    if not HAVE_OPENPYXL:  # pragma: no cover
        raise NotImplementedError(
            "openpyxl not installed; decode the workbook externally and use "
            "frames_from_sheets"
        )
    import openpyxl as _xl  # pragma: no cover

    wb = _xl.load_workbook(path, read_only=True)  # pragma: no cover
    sheets = {  # pragma: no cover
        ws.title: [[c for c in row] for row in ws.iter_rows(values_only=True)]
        for ws in wb.worksheets
    }
    return frames_from_sheets(spark, sheets, key_col, skip_sheet_marker)  # pragma: no cover


def frames_from_sheets(
    spark: SparkSession,
    sheets: Mapping[str, list[list[Any]]],
    key_col: str,
    skip_sheet_marker: str = "deleted",
    id_template: str | None = None,
) -> DataFrame:
    """sheets_to_rows -> one all-string DataFrame (cast later via set_type,
    the reference's CAST_TO_STRINGS strategy)."""
    header, rows = sheets_to_rows(sheets, key_col, skip_sheet_marker, id_template)
    data = [
        tuple(None if r.get(h) is None else str(r.get(h)) for h in header)
        for r in rows
    ]
    schema = ", ".join(f"`{h}` string" for h in header)
    return local_df(spark, data, schema)


__all__ = [
    "enumerate_tabs",
    "sheets_tabs_source",
    "transpose_grid",
    "sheets_to_rows",
    "frames_from_sheets",
    "load_xlsx_sheets",
    "HAVE_OPENPYXL",
]
