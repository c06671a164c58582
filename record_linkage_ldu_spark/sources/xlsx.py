"""Stdlib-only Excel (.xlsx) presentation sink.

The reference's final artifact is a 3-sheet review workbook —
``pd.ExcelWriter('matches_ldu_hw.xlsx')`` with sheets ``all`` /
``verified`` / ``not verified`` (main_ldu_hw.py:468-471), each holding
the grouped presentation frame whose clusters are separated by blank
rows (groups_to_df, main_ldu_hw.py:97-146).  This environment has no
xlsx library, but xlsx is just a zip of XML parts and ``zipfile`` is
stdlib — so the workbook is emitted directly: inline-string cells (no
sharedStrings table), minimal styles, one worksheet part per sheet.

Scale note: this is a driver-side sink by design, exactly like the
reference's ``to_excel`` — presentation tables are clusters (thousands
of rows), not pairs (millions).  Anything large belongs in the
partitioned parquet sink (sources/io.py::StageStore); the guard below
refuses to collect more than ``max_rows`` per sheet rather than OOM the
driver.
"""

from __future__ import annotations

import os
import zipfile
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

# fixed zip timestamps: byte-stable output for identical input
_ZIP_DT = (2020, 1, 1, 0, 0, 0)

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
    "{sheet_overrides}"
    "</Types>"
)

_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)

_STYLES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
    '<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>'
    '<fills count="1"><fill><patternFill patternType="none"/></fill></fills>'
    '<borders count="1"><border/></borders>'
    '<cellStyleXfs count="1"><xf/></cellStyleXfs>'
    '<cellXfs count="1"><xf xfId="0"/></cellXfs>'
    "</styleSheet>"
)


def _col_ref(idx: int) -> str:
    """0-based column index -> A1-style column letters."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _cell_xml(value, ref: str) -> str:
    """One cell: numbers as native numeric cells, everything else as an
    inline string; None/'' emit NO cell (Excel renders a blank).  Every
    emitted cell carries its ``r`` reference — without it, a skipped
    blank silently shifts later cells one column left (ECMA-376 places
    an r-less cell after the previous one)."""
    import math

    if value is None:
        return ""
    if isinstance(value, bool):  # bool is an int subclass — keep text
        return (
            f'<c r="{ref}" t="inlineStr"><is><t>'
            f"{str(value).lower()}</t></is></c>"
        )
    if isinstance(value, (int, float)):
        if isinstance(value, float) and not math.isfinite(value):
            # NaN/inf are not valid xlsx numerics — keep as text
            return (
                f'<c r="{ref}" t="inlineStr"><is><t>{value!r}</t></is></c>'
            )
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    s = str(value)
    if s == "":
        return ""
    return (
        f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
        + escape(s)
        + "</t></is></c>"
    )


def _sheet_xml(header: list[str], rows: list[list]) -> str:
    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
    ]

    def row_xml(values, rownum: int) -> str:
        cells = "".join(
            _cell_xml(v, f"{_col_ref(ci)}{rownum}")
            for ci, v in enumerate(values)
        )
        return f'<row r="{rownum}">{cells}</row>' if cells else "<row/>"

    parts.append(row_xml(header, 1))
    for rn, row in enumerate(rows, start=2):
        parts.append(row_xml(row, rn))
    parts.append("</sheetData></worksheet>")
    return "".join(parts)


def write_xlsx(path: str, sheets: list[tuple[str, list[str], list[list]]]) -> None:
    """Write a workbook: ``sheets`` is ``[(name, header, rows), ...]``
    in sheet order.  Blank separator rows are rows whose every cell is
    None/'' (they serialize as ``<row/>``)."""
    if not sheets:
        raise ValueError("write_xlsx: need at least one sheet")
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
        for i in range(len(sheets))
    )
    for name, _, _ in sheets:
        if not name or len(name) > 31 or any(c in name for c in '[]:*?/\\'):
            raise ValueError(f"invalid Excel sheet name: {name!r}")
    sheet_decls = "".join(
        f'<sheet name="{escape(name, {chr(34): "&quot;"})}" '
        f'sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (name, _, _) in enumerate(sheets)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{sheet_decls}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
            'relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + f'<Relationship Id="rId{len(sheets) + 1}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/styles" Target="styles.xml"/>'
        "</Relationships>"
    )

    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:

        def add(name: str, data: str) -> None:
            zi = zipfile.ZipInfo(name, date_time=_ZIP_DT)
            zi.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(zi, data)

        add(
            "[Content_Types].xml",
            _CONTENT_TYPES.format(sheet_overrides=overrides),
        )
        add("_rels/.rels", _ROOT_RELS)
        add("xl/workbook.xml", workbook)
        add("xl/_rels/workbook.xml.rels", wb_rels)
        add("xl/styles.xml", _STYLES)
        for i, (_, header, rows) in enumerate(sheets):
            add(f"xl/worksheets/sheet{i + 1}.xml", _sheet_xml(header, rows))
    os.replace(tmp, path)


def grouped_sheet_rows(
    df: DataFrame,
    group_col: str = "cluster_id",
    order_col: str = "doc_id",
    max_rows: int = 200_000,
) -> tuple[list[str], list[list]]:
    """Collect a presentation frame in reference review order — rows
    sorted by (group, member) with one all-blank separator row after
    each group (groups_to_df appends an empty row per group,
    main_ldu_hw.py:97-146).  Driver-side by contract; refuses to
    collect beyond ``max_rows``."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"grouped_sheet_rows: {n} rows exceeds max_rows={max_rows}; "
            "presentation sheets are cluster-sized — write the "
            "partitioned parquet sink for bulk output"
        )
    header = df.columns
    rows: list[list] = []
    unset = object()
    prev_group = unset
    for rec in df.orderBy(group_col, order_col).collect():
        g = rec[group_col]
        if prev_group is not unset and g != prev_group:
            rows.append([None] * len(header))
        prev_group = g
        rows.append(
            [
                ", ".join(str(x) for x in v)
                if isinstance(v, (list, tuple))
                else v
                for v in rec
            ]
        )
    if rows:
        rows.append([None] * len(header))
    return header, rows


def export_presentation_xlsx(
    sheets: dict[str, DataFrame],
    path: str,
    group_col: str = "cluster_id",
    order_col: str = "doc_id",
) -> None:
    """The reference's final artifact: one workbook, one sheet per
    presentation frame (``{'all': ..., 'verified': ..., 'not
    verified': ...}``), each grouped with blank separators
    (main_ldu_hw.py:468-471)."""
    write_xlsx(
        path,
        [
            (name, *grouped_sheet_rows(df, group_col, order_col))
            for name, df in sheets.items()
        ],
    )
