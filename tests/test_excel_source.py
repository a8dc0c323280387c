"""Excel ingestion (VERDICT r2 item 8 / r3 item 5; reference pro.py:34-44).

The container ships no xlsx engine, so sources/xlsx.py vendors a minimal
stdlib parser (zip + worksheet/sharedStrings XML).  These tests cover
the parser itself (inline strings, shared strings, booleans, sparse
rows, all-empty-row skip), the Spark `read_excel` surface, and the
reference's full ingest chain S1→P6→J3→S5: xlsx scan → row-hash CDC
diff vs the previous drop → keyed MERGE into the serving table.
"""

from __future__ import annotations

import zipfile

from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.cdc import (
    diff_snapshots,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.upsert import (
    ManifestSnapshotTable,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.readers import (
    read_excel,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.xlsx import (
    read_xlsx_rows,
    write_minimal_xlsx,
)


def test_xlsx_round_trip_types_and_empty_rows(tmp_path):
    path = str(tmp_path / "grades.xlsx")
    write_minimal_xlsx(
        path,
        ["F_MASV", "F_DIEM2", "F_PASSED"],
        [
            ["B2012345", 8.5, True],
            ["B2012346", 4.0, False],
            [None, None, None],  # all-empty: skipped (pro.py:41 any(row))
            ["B2012347", None, True],  # sparse row: None survives
        ],
    )
    header, rows = read_xlsx_rows(path)
    assert header == ["F_MASV", "F_DIEM2", "F_PASSED"]
    assert rows == [
        ["B2012345", 8.5, True],
        ["B2012346", 4.0, False],
        ["B2012347", None, True],
    ]


def test_xlsx_shared_strings_and_sparse_cells(tmp_path):
    """Hand-built workbook exercising the t="s" shared-string path, rich
    text runs, and sparse cell references (C before A missing)."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = f"""<?xml version="1.0"?>
    <worksheet xmlns="{ns}"><sheetData>
      <row r="1">
        <c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
      </row>
      <row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>7</v></c></row>
      <row r="3"><c r="B3"><v>9.25</v></c></row>
    </sheetData></worksheet>"""
    shared = f"""<?xml version="1.0"?>
    <sst xmlns="{ns}" count="3" uniqueCount="3">
      <si><t>name</t></si><si><t>score</t></si>
      <si><r><t>al</t></r><r><t>ice</t></r></si>
    </sst>"""
    path = str(tmp_path / "shared.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
        zf.writestr("xl/sharedStrings.xml", shared)
    header, rows = read_xlsx_rows(path)
    assert header == ["name", "score"]
    assert rows == [["alice", 7.0], [None, 9.25]]


def test_read_excel_spark_surface(spark, tmp_path):
    path = str(tmp_path / "grades.xlsx")
    write_minimal_xlsx(
        path,
        ["F_MASV", "F_DIEM2"],
        [["B2012345", 8.5], ["B2012346", 4.0], [None, None]],
    )
    df = read_excel(spark, path)
    assert [f.dataType.typeName() for f in df.schema.fields] == [
        "string", "double",
    ]
    rows = {r.F_MASV: r.F_DIEM2 for r in df.collect()}
    assert rows == {"B2012345": 8.5, "B2012346": 4.0}


def test_xlsx_cdc_upsert_chain(spark, tmp_path):
    """The reference's whole ingest path (pro.py scan → hash-diff →
    con.py keyed upsert) on its actual input format: S1 xlsx scan →
    P6/J3 row-hash CDC diff vs the previous workbook drop → S5 keyed
    MERGE; a re-drop of the same workbook is a no-op (T2)."""
    drop1 = str(tmp_path / "drop1.xlsx")
    drop2 = str(tmp_path / "drop2.xlsx")
    cols = ["F_MASV", "F_TENMH", "F_DIEM2"]
    write_minimal_xlsx(
        drop1,
        cols,
        [["B1", "calculus", 6.0], ["B2", "calculus", 7.5]],
    )
    write_minimal_xlsx(
        drop2,
        cols,
        [
            ["B1", "calculus", 6.0],   # unchanged → suppressed by CDC
            ["B2", "calculus", 9.0],   # regrade → changed row
            ["B3", "calculus", 5.0],   # new student
        ],
    )
    old = read_excel(spark, drop1)
    new = read_excel(spark, drop2)
    changed = diff_snapshots(new, old, cols)
    got = {(r.F_MASV, r.F_DIEM2) for r in changed.collect()}
    assert got == {("B2", 9.0), ("B3", 5.0)}

    table = ManifestSnapshotTable(
        spark,
        str(tmp_path / "table"),
        keys=["F_MASV", "F_TENMH"],
        order_cols=["F_DIEM2"],
    )
    table.upsert(old)
    table.upsert(changed)
    table.upsert(changed)  # replay: keyed MERGE fixed point
    final = {(r.F_MASV, r.F_DIEM2) for r in table.read().collect()}
    assert final == {("B1", 6.0), ("B2", 9.0), ("B3", 5.0)}
