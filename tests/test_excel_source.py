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


def test_read_excel_arrow_frame_equals_list_construction(spark, tmp_path):
    """`read_excel` builds its frame from Arrow; it must equal the
    `createDataFrame(list, schema)` construction it replaced in schema,
    rows and `row_hash`, or every re-upload after an upgrade would diff
    as 100% changed against row hashes persisted by the old one."""
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.operators.cdc import (
        HASH_COL,
        with_row_hash,
    )

    header = ["dbl", "flag", "name", "mixed", "empty"]
    rows = [
        [8.5, True, "Nguyễn Văn A", 1.0, None],
        [None, False, "", True, None],
        [-0.25, None, "学生 \U0001d11e", "B7", None],
        [1e300, True, None, None, None],
        [4.0, False, "x", 2.5, None],
    ]
    path = str(tmp_path / "types.xlsx")
    write_minimal_xlsx(path, header, rows)
    df = read_excel(spark, path)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "double", "boolean", "string", "string", "string",
    ]
    # the pre-Arrow construction, over the same parsed cells
    _, parsed = read_xlsx_rows(path)
    types = [f.dataType.simpleString() for f in df.schema.fields]
    norm = [
        tuple(
            v if v is None or types[i] != "string" or isinstance(v, str)
            else str(v)
            for i, v in enumerate(r)
        )
        for r in parsed
    ]
    ddl = ", ".join(f"`{n}` {t}" for n, t in zip(header, types))
    ref = spark.createDataFrame(norm, ddl)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()
    hashes = [
        [r[HASH_COL] for r in with_row_hash(frame, header).collect()]
        for frame in (df, ref)
    ]
    assert hashes[0] == hashes[1]
    assert len(set(hashes[0])) == len(rows)
    mixed = [r["mixed"] for r in df.collect()]
    assert mixed == ["1.0", "True", "B7", None, "2.5"]


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
