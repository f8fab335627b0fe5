"""Snow workbook ingestion: stdlib xlsx parse + the reference's QC
rules (R/readSnowWorkbook.R). The test builds a real .xlsx (zip of
SpreadsheetML parts) by hand so no Excel library is needed anywhere."""

import zipfile

import pytest
from pyspark.sql import functions as F

from aquacache_spark.functions.xlsx import col_to_num, read_xlsx_cells
from aquacache_spark.sources.registry import dispatch
from aquacache_spark.sources.snow_workbook import (
    parse_snow_workbook,
    read_snow_workbook,
)

_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _cell(ref, v):
    if isinstance(v, str):
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'
    return f'<c r="{ref}"><v>{v}</v></c>'


def _sheet_xml(cells):
    by_row = {}
    for ref, v in cells.items():
        row = int("".join(ch for ch in ref if ch.isdigit()))
        by_row.setdefault(row, []).append(_cell(ref, v))
    rows = "".join(
        f'<row r="{r}">{"".join(cs)}</row>' for r, cs in sorted(by_row.items())
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{rows}</sheetData></worksheet>"
    )


def write_xlsx(path, sheets: dict[str, dict[str, object]]):
    names = list(sheets)
    wb_sheets = "".join(
        f'<sheet name="{n}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    wb = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, n in enumerate(names):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", _sheet_xml(sheets[n]))


def snow_sheet(location, depths_swes, sampled="sampled", date_serial=45365):
    cells = {
        "C5": location, "C6": date_serial, "C7": date_serial + 1,
        "C8": "A. Sampler", "C9": sampled,
        "C12": "Depth", "G12": "SWE",
    }
    for i, (d, s) in enumerate(depths_swes):
        r = 13 + i
        if d is not None:
            cells[f"C{r}"] = d
        if s is not None:
            cells[f"G{r}"] = s
    return cells


@pytest.fixture()
def workbook(tmp_path):
    p = str(tmp_path / "snow.xlsx")
    write_xlsx(p, {
        "Summary": {"A1": "ignored"},
        "COURSE_A": snow_sheet("Course A", [(50.0, 12.5), (0.0, None), (None, None)]),
        "COURSE_B": snow_sheet("Course B", [(40.0, 10.0)], sampled="no sample"),
        "UNKNOWN": snow_sheet("Nowhere", [(30.0, 8.0)]),
        "EMPTY": {},
    })
    return p


def test_xlsx_kernel_reads_cells(workbook):
    cells = read_xlsx_cells(workbook)
    assert set(cells) == {"Summary", "COURSE_A", "COURSE_B", "UNKNOWN", "EMPTY"}
    assert cells["COURSE_A"][(5, 3)] == "Course A"
    assert cells["COURSE_A"][(13, 3)] == 50.0
    assert col_to_num("AA") == 27


def test_parse_rules(workbook):
    surveys, meas = parse_snow_workbook(workbook)
    sheets = [s["sheet"] for s in surveys]
    assert "COURSE_B" not in sheets     # 'no sample' skipped
    assert "EMPTY" not in sheets        # empty sheet skipped
    assert "Summary" not in sheets
    a = [m for m in meas if m["sheet"] == "COURSE_A"]
    assert len(a) == 2                  # both-empty row dropped
    assert a[1]["depth"] == 0.0 and a[1]["swe"] == 0.0  # depth 0 => swe 0
    assert surveys[0]["survey_date"] == "2024-03-14"    # serial decoded


def test_location_gate_and_contract(spark, workbook):
    locations = spark.createDataFrame([("Course A",)], ["name"])
    out = read_snow_workbook(spark, workbook, locations=locations)
    assert [r["sheet"] for r in out["rejected"].collect()] == ["UNKNOWN"]
    assert out["measurements"].where(
        F.col("location_name") == "Nowhere").count() == 0
    # registry dispatch normalizes to the (datetime, value) contract
    got = dispatch(spark, "readSnowWorkbook", {"path": workbook}).collect()
    assert {r["value"] for r in got} == {12.5, 0.0, 8.0}


def test_error_and_date_cells_do_not_abort_parse(tmp_path):
    """t='e' (#DIV/0!), t='d' (ISO date), and unparseable numeric cells must
    be kept as text / skipped, never raise (ADVICE r1: a single bad cell
    aborted the whole workbook and its executor task)."""
    p = str(tmp_path / "bad_cells.xlsx")
    write_xlsx(p, {"S1": {"A1": "ok", "B1": 1.5}})
    # splice raw special cells into the sheet XML
    import re

    with zipfile.ZipFile(p, "r") as z:
        data = {n: z.read(n) for n in z.namelist()}
    sheet = data["xl/worksheets/sheet1.xml"].decode()
    extra = (
        '<row r="2">'
        '<c r="A2" t="e"><v>#DIV/0!</v></c>'
        '<c r="B2" t="d"><v>2026-03-01T00:00:00</v></c>'
        '<c r="C2"><v>not-a-number</v></c>'
        "</row>"
    )
    sheet = re.sub("</sheetData>", extra + "</sheetData>", sheet)
    data["xl/worksheets/sheet1.xml"] = sheet.encode()
    with zipfile.ZipFile(p, "w") as z:
        for n, b in data.items():
            z.writestr(n, b)

    cells = read_xlsx_cells(p)["S1"]
    assert cells[(1, 1)] == "ok" and cells[(1, 2)] == 1.5
    assert cells[(2, 1)] == "#DIV/0!"
    assert cells[(2, 2)] == "2026-03-01T00:00:00"
    assert cells[(2, 3)] == "not-a-number"


class TestQcSurveyBatch:
    def _run(self, spark, surveys, meas):
        from aquacache_spark.session import local_df
        from aquacache_spark.sources.snow_workbook import qc_survey_batch

        s = local_df(spark, surveys,
                     "survey_id long, location_name string,"
                     " target_date string, survey_date string,"
                     " sampler string, method string, est_avg double,"
                     " notes string")
        m = local_df(spark, meas,
                     "survey_id long, depth double, swe double,"
                     " excluded boolean")
        so, mo = qc_survey_batch(s, m)
        return ({r["survey_id"]: r for r in so.collect()}, mo.collect())

    def test_method_ladder_and_conflict(self, spark):
        surveys = [
            (1, "A", "2024-03-01", "2024-03-02", "X", "standard", 1.2, None),
            (2, "A", "2024-03-01", "2024-03-02", "X", "Bulk sample", 1.2, None),
            (3, "A", "2024-03-01", "2024-03-02", "X", "No sample", None, None),
            (4, "A", None, "2024-03-02", "X", "standard", None, None),
            (5, "A", "2024-03-01", "2024-03-02", "X", "standard", None, None),
        ]
        meas = [(1, 10.0, 3.0, False), (2, 8.0, 2.5, False),
                (3, 5.0, 2.0, False)]
        by, _ = self._run(spark, surveys, meas)
        # est_avg overrides unless bulk (:186-193)
        assert by[1]["method_resolved"] == "average"
        assert by[2]["method_resolved"] == "Bulk sample"
        # measurements under 'no sample' -> rejected (:322-328)
        assert by[3]["status"] == "rejected_no_sample_conflict"
        assert by[4]["status"] == "rejected_missing_target_date"
        # no measurements -> method forced (:313-320)
        assert by[5]["method_resolved"] == "no sample"
        assert by[5]["status"] == "ok"

    def test_measurement_derivations(self, spark):
        surveys = [(1, "A", "2024-03-01", "2024-03-02", "O'Hara", "standard",
                    None, "don't freeze")]
        meas = [
            (1, 0.0, 7.7, False),    # zero depth forces swe 0 (:139-141)
            (1, 12.0, 4.25, True),   # cm -> mm round (:648)
            (1, None, None, False),  # note-only row dropped (:98-101)
        ]
        by, rows = self._run(spark, surveys, meas)
        assert by[1]["sampler"] == "OHara" and by[1]["notes"] == "dont freeze"
        got = sorted((r["depth"], r["swe_mm"]) for r in rows)
        assert got == [(0.0, 0), (12.0, 43)]  # 42.5 rounds half-up
