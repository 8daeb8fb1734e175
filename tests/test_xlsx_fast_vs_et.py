"""Differential tests: the fast paths of ``sources/xlsx.py``
(``walk_rows_fast`` for sheet parts, with its handoff to ElementTree at
the first row the strict tier cannot tile, and ``load_shared_strings_fast``
for the shared-strings part) must return exactly what the ElementTree
paths return, and parts whose preconditions do not hold must take
ElementTree.
"""

from __future__ import annotations

import io
import zipfile

import pytest

from data_to_parquet_spark.sources import xlsx
from data_to_parquet_spark.sources.xlsx import (
    XlsxWorkbook,
    _fast_path_eligible,
    load_shared_strings,
    load_shared_strings_fast,
    walk_rows,
    walk_rows_fast,
)

from .xlsx_fixture import write_xlsx

_NS = xlsx._MAIN_NS_URI
_DECL = b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'


def _sheet(rows_xml: str) -> bytes:
    return (
        _DECL
        + f'<worksheet xmlns="{_NS}"><sheetData>{rows_xml}'
        "</sheetData></worksheet>".encode()
    )


def _sst(items: str) -> bytes:
    return _DECL + f'<sst xmlns="{_NS}">{items}</sst>'.encode()


# --- sheet walker ---------------------------------------------------------


def test_fast_walker_normalizes_raw_carriage_returns_like_et():
    data = _sheet(
        '<row r="1">'
        '<c r="A1" t="inlineStr"><is><t xml:space="preserve">a\r\nb</t></is></c>'
        '<c r="B1" t="str"><v>c\rd</v></c>'
        '<c r="C1" t="inlineStr"><is><t>e&#13;f</t></is></c>'
        '<c r="D1" t="inlineStr"><is><t>g\r</t><t>\r\nh</t></is></c>'
        "</row>"
    )
    expected = [(0, [(0, "a\nb"), (1, "c\nd"), (2, "e\rf"), (3, "g\n\nh")])]
    assert list(walk_rows(io.BytesIO(data), [])) == expected
    assert list(walk_rows_fast(data, [])) == expected


def test_fast_walker_resolves_references_like_et():
    # XML keeps U+0080-U+009F (an HTML resolver would map them via cp1252)
    # and allows any number of leading zeros in a character reference
    data = _sheet(
        '<row r="1"><c r="A1" t="str"><v>&#133;</v></c>'
        '<c r="B1" t="inlineStr"><is><t>&#x80;&lt;</t></is></c>'
        '<c r="C1" t="str"><v>&#00000065;&#x0000000042;</v></c>'
        "</row>"
    )
    expected = [(0, [(0, "\x85"), (1, "\x80<"), (2, "AB")])]
    assert list(walk_rows(io.BytesIO(data), [])) == expected
    assert list(walk_rows_fast(data, [])) == expected


def test_fast_walker_multi_run_edge_tags_match_et():
    # an empty self-closing run must not pair with the next run's end
    # tag, and an end tag may carry whitespace
    data = _sheet(
        '<row r="1">'
        '<c r="A1" t="inlineStr"><is><t xml:space="preserve"/><t>b</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>x</t ></is></c>'
        '<c r="C1" t="inlineStr"><is><r><t>y</t ></r><r><t>z</t></r></is></c>'
        "</row>"
    )
    expected = [(0, [(0, "b"), (1, "x"), (2, "yz")])]
    assert list(walk_rows(io.BytesIO(data), [])) == expected
    assert list(walk_rows_fast(data, [])) == expected


def test_fast_walker_hands_off_mid_buffer_like_et(monkeypatch):
    # rows before the handoff include r-less and self-closing ones; the
    # ElementTree walker must resume exactly after the rows already yielded
    data = _sheet(
        '<row><c r="A1"><v>1</v></c></row>'
        '<row r="3"/>'
        "<row/>"
        '<row><c r="A5" t="s"><v>0</v></c></row>'
        '<row r="7"><c r="A7"><f>A1*2</f><v>2</v></c><c r="B7"><v>x</v></c></row>'
        '<row><c r="B8"><v>3</v></c></row>'
        '<row r="9"/>'
    )
    sst = ["s0"]
    expected = list(walk_rows(io.BytesIO(data), sst))
    assert expected == [
        (0, [(0, "1")]),
        (2, []),
        (3, []),
        (4, [(0, "s0")]),
        (6, [(0, "2"), (1, "x")]),
        (7, [(1, "3")]),
        (8, []),
    ]
    handoffs = []

    def spy(stream, table):
        handoffs.append(1)
        return walk_rows(stream, table)

    monkeypatch.setattr(xlsx, "walk_rows", spy)
    assert list(walk_rows_fast(data, sst)) == expected
    assert handoffs == [1]


@pytest.mark.parametrize(
    "root",
    [
        f'<worksheet xmlns="{_NS}" xmlns:x-y="{_NS}">',
        f"<worksheet xmlns=\"{_NS}\" xmlns:x='{_NS}'>",
        f'<worksheet xmlns="{_NS}" xmlns:x = "{_NS}">',
        f'<!DOCTYPE worksheet [<!ENTITY e "1">]><worksheet xmlns="{_NS}">',
    ],
    ids=["hyphenated_prefix", "single_quotes", "spaced_equals", "doctype"],
)
def test_sheet_parts_that_could_hide_rows_are_ineligible(root):
    # a prefixed main namespace (any prefix spelling or quoting) allows
    # rows the strict tier cannot see; a DTD can declare entities
    data = _DECL + f'{root}<sheetData><row r="1"/></sheetData></worksheet>'.encode()
    assert not _fast_path_eligible(data)


def test_inline_string_phonetic_runs_are_not_text():
    # Excel displays, calamine reads and the xlsb reader decodes only the
    # base text; the <rPh> reading is dropped
    data = _sheet(
        '<row r="1"><c r="A1" t="inlineStr"><is><t>東京</t>'
        '<rPh sb="0" eb="2"><t>トウキョウ</t></rPh><phoneticPr fontId="1"/>'
        '</is></c><c r="B1" t="inlineStr"><is><r><t>大</t></r><r><t>阪</t></r>'
        '<rPh sb="0" eb="2"><t>オオサカ</t></rPh></is></c></row>'
    )
    expected = [(0, [(0, "東京"), (1, "大阪")])]
    assert list(walk_rows(io.BytesIO(data), [])) == expected
    assert list(walk_rows_fast(data, [])) == expected


def test_shared_string_phonetic_runs_are_not_text(tmp_path):
    data = _sst(
        _SST_ET_CASES["phonetic"]
        + '<si><r><t>大</t></r><r><t>阪</t></r><rPh sb="0" eb="2"><t>オオサカ</t></rPh></si>'
    )
    assert load_shared_strings(io.BytesIO(data)) == ["東京", "大阪"]
    with XlsxWorkbook(_workbook_with_sst(tmp_path, data)) as wb:
        assert wb._shared_strings() == ["東京", "大阪"]


# --- shared-strings loader ------------------------------------------------

# parts of one plain run per entry take the fast loader; anything else
# (escapes, rich or phonetic runs, empty or self-closing elements, tag
# whitespace) makes it return None, and the workbook loads it with ET
_SST_FAST_CASES = {
    "plain": '<si><t>alpha</t></si><si><t xml:space="preserve"> b </t></si>',
    "non_ascii": "<si><t>café ünïcødé 😀</t></si><si><t>ж</t></si>",
    "crlf": '<si><t xml:space="preserve">one\r\ntwo\rthree\n</t></si>',
}
_SST_ET_CASES = {
    "entities": (
        "<si><t>a&amp;b&lt;c&gt;&quot;&apos;</t></si>"
        "<si><t>x&#13;y&#x41;&#00000065;</t></si>"
    ),
    "c1_references": "<si><t>&#133;&#x80;&#x9F;&amp;</t></si>",
    "rich_runs": (
        "<si><r><rPr><b/><sz val=\"11\"/></rPr><t>bold</t></r>"
        '<r><t xml:space="preserve"> tail</t></r></si><si><t>next</t></si>'
    ),
    "phonetic": (
        '<si><t>東京</t><rPh sb="0" eb="2"><t>トウキョウ</t></rPh>'
        '<phoneticPr fontId="1"/></si>'
    ),
    "empty_runs": (
        '<si><t/></si><si><t xml:space="preserve"/></si><si/>'
        '<si><r><t xml:space="preserve"/></r><r><t>b</t></r></si>'
    ),
    "crlf_rich": "<si><r><t>a\r</t></r><r><t>\nb</t></r></si>",
    "whitespace_in_tags": "<si ><t >a</t ></si><si>\n<t\n>b</t\n>\n</si>",
    "end_tag_whitespace": "<si><t>a</t></si >",
    "si_prefixed_element": "<si><t>a</t></si><sib/>",
}


@pytest.mark.parametrize("case", sorted(_SST_FAST_CASES))
def test_fast_sst_loader_matches_et(case):
    data = _sst(_SST_FAST_CASES[case])
    assert _fast_path_eligible(data)
    fast = load_shared_strings_fast(data)
    assert fast is not None
    assert fast == load_shared_strings(io.BytesIO(data))


@pytest.mark.parametrize("case", sorted(_SST_ET_CASES))
def test_fast_sst_loader_defers_other_entries_to_et(case, tmp_path):
    data = _sst(_SST_ET_CASES[case])
    assert _fast_path_eligible(data)
    assert load_shared_strings_fast(data) is None
    et = load_shared_strings(io.BytesIO(data))
    with XlsxWorkbook(_workbook_with_sst(tmp_path, data)) as wb:
        assert wb._shared_strings() == et


def test_sst_loader_values():
    data = _sst(
        _SST_FAST_CASES["crlf"] + '<si><t xml:space="preserve"/></si>'
        + _SST_ET_CASES["entities"] + _SST_ET_CASES["crlf_rich"]
    )
    assert load_shared_strings(io.BytesIO(data)) == [
        "one\ntwo\nthree\n",
        "",
        "a&b<c>\"'",
        "x\ryAA",
        "a\n\nb",
    ]
    assert load_shared_strings_fast(_sst(_SST_FAST_CASES["crlf"])) == [
        "one\ntwo\nthree\n"
    ]


def _workbook_with_sst(tmp_path, sst_part: bytes) -> str:
    """A fixture workbook whose shared-strings part is replaced."""
    src = str(tmp_path / "src.xlsx")
    write_xlsx(src, {"S": [["h"], ["v"]]}, shared_strings=True)
    path = str(tmp_path / "book.xlsx")
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(
        path, "w", zipfile.ZIP_DEFLATED
    ) as zout:
        for info in zin.infolist():
            body = zin.read(info)
            if info.filename == "xl/sharedStrings.xml":
                body = sst_part
            zout.writestr(info.filename, body)
    return path


def _spy_fast(monkeypatch) -> list:
    calls: list = []
    real = xlsx.load_shared_strings_fast

    def spy(data):
        calls.append(len(data))
        return real(data)

    monkeypatch.setattr(xlsx, "load_shared_strings_fast", spy)
    return calls


_INELIGIBLE = {
    "comment": (
        _sst("<!-- note --><si><t>a</t></si><si><t>b</t></si>"),
        ["a", "b"],
    ),
    "cdata": (_sst("<si><t><![CDATA[a<b]]></t></si>"), ["a<b"]),
    "prefixed_main_ns": (
        _DECL
        + f'<x:sst xmlns:x="{_NS}"><x:si><x:t>a</x:t></x:si></x:sst>'.encode(),
        ["a"],
    ),
    "latin1_declaration": (
        b'<?xml version="1.0" encoding="ISO-8859-1"?>'
        + f'<sst xmlns="{_NS}"><si><t>caf\xe9</t></si></sst>'.encode("latin-1"),
        ["caf\xe9"],
    ),
}


@pytest.mark.parametrize("case", sorted(_INELIGIBLE))
def test_ineligible_sst_parts_take_et(case, tmp_path, monkeypatch):
    part, expected = _INELIGIBLE[case]
    assert not _fast_path_eligible(part)
    calls = _spy_fast(monkeypatch)
    with XlsxWorkbook(_workbook_with_sst(tmp_path, part)) as wb:
        assert wb._shared_strings() == expected
    assert calls == []


def test_eligible_sst_part_takes_fast_loader(tmp_path, monkeypatch):
    part = _sst(_SST_FAST_CASES["plain"])
    calls = _spy_fast(monkeypatch)
    with XlsxWorkbook(_workbook_with_sst(tmp_path, part)) as wb:
        assert wb._shared_strings() == ["alpha", " b "]
    assert calls == [len(part)]


def test_sst_part_above_buffer_limit_streams(tmp_path, monkeypatch):
    part = _sst(_SST_FAST_CASES["plain"] + _SST_ET_CASES["entities"])
    path = _workbook_with_sst(tmp_path, part)
    monkeypatch.setattr(xlsx, "_FAST_BUFFER_LIMIT", len(part) - 1)
    calls = _spy_fast(monkeypatch)
    read = []
    real_read = zipfile.ZipFile.read
    monkeypatch.setattr(
        zipfile.ZipFile,
        "read",
        lambda self, name, pwd=None: read.append(name) or real_read(self, name, pwd),
    )
    with XlsxWorkbook(path) as wb:
        assert wb._shared_strings() == ["alpha", " b ", "a&b<c>\"'", "x\ryAA"]
    assert calls == []
    assert "xl/sharedStrings.xml" not in read
