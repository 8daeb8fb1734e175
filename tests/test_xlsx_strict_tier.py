"""The strict cell tokenizer (_STRICT_CELL_RE tier inside walk_rows_fast)
must decode exactly like the generic decoder, the ElementTree walker, on
the three machine-written shapes, with or without a numeric ``s=`` style
between ``r=`` and ``t=``, and must REFUSE (return None → ElementTree
decodes the rest of the part) any body its matches do not tile
completely — that refusal is what makes the tier safe on escapes, other
attributes, attribute reorderings and multi-run inline strings.
"""

from __future__ import annotations

import io

from data_to_parquet_spark.kernels import format_float
from data_to_parquet_spark.sources import xlsx
from data_to_parquet_spark.sources.xlsx import _decode_strict_cells

from .xlsx_fixture import write_xlsx

SST = ["alpha", "beta"]


def dec(body: str):
    return _decode_strict_cells(body, SST, format_float)


def test_strict_decodes_the_three_shapes():
    body = (
        '<c r="A5"><v>3</v></c>'
        '<c r="B5"><v>3.75</v></c>'
        '<c r="C5" t="inlineStr"><is><t xml:space="preserve">name_3</t></is></c>'
        '<c r="D5" t="b"><v>1</v></c>'
        '<c r="E5" t="s"><v>1</v></c>'
        '<c r="F5" t="e"><v>#DIV/0!</v></c>'
        '<c r="G5"/>'
        '<c r="H5"><v></v></c>'
        '<c r="J5" t="str"><v>raw</v></c>'
    )
    assert dec(body) == [
        (0, "3"),
        (1, "3.75"),
        (2, "name_3"),
        (3, "true"),
        (4, "beta"),
        (5, "Div0"),
        (6, ""),
        (7, ""),
        (9, "raw"),  # explicit column gap honored (J skips I)
    ]


def test_strict_numeric_renormalization_matches_generic():
    body = (
        '<c r="A1"><v>007</v></c>'
        '<c r="B1"><v>-0</v></c>'
        '<c r="C1"><v>1e2</v></c>'
        '<c r="D1"><v>99999999999999999999999</v></c>'
    )
    # beyond-i64 integers take the f64 path like calamine (rounds to 1e23,
    # printed positionally per Rust Display)
    assert dec(body) == _generic(body) == [
        (0, "7"),
        (1, "0"),
        (2, "100"),
        (3, "100000000000000000000000"),
    ]


def _generic(body: str):
    """The same row body through the ElementTree walker, the reference
    for every cell."""
    data = (
        f'<worksheet xmlns="{xlsx._MAIN_NS_URI}"><sheetData>'
        f'<row r="1">{body}</row></sheetData></worksheet>'
    ).encode()
    [(_, et)] = list(xlsx.walk_rows(io.BytesIO(data), SST))
    return et


def test_strict_decodes_styled_cells_like_generic():
    # every t= the decoder dispatches on, each behind an s= style index
    for body in (
        '<c r="A1" s="3"><v>1</v></c>',
        '<c r="A1" s="14"><v>45000.25</v></c>',
        '<c r="A1" s="1" t="n"><v>007</v></c>',
        '<c r="A1" s="2" t="s"><v>1</v></c>',
        '<c r="A1" s="0" t="b"><v>0</v></c>',
        '<c r="A1" s="5" t="e"><v>#N/A</v></c>',
        '<c r="A1" s="5" t="str"><v>raw</v></c>',
        '<c r="A1" s="5" t="d"><v>2024-01-02T03:04:05</v></c>',
        '<c r="A1" s="7" t="inlineStr"><is><t xml:space="preserve">x y</t></is></c>',
        '<c r="A1" s="9"/>',
        '<c r="A1" s="9" t="s"/>',
        '<c r="A1" s="9"><v></v></c>',
        '<c r="A1" s="3"><v>1</v></c><c r="C1" s="12" t="s"><v>0</v></c>',
    ):
        strict = dec(body)
        assert strict is not None, body
        assert strict == _generic(body), body


def test_strict_tier_engages_on_fixture_rows_with_date_cells(tmp_path):
    # a date cell carries s= on every row; the whole sheet must still
    # decode on the strict tier, not hand off to ElementTree
    path = str(tmp_path / "dates.xlsx")
    rows = [["id", "when", "name", "ok", "amount"]] + [
        [i, ("date_serial", 45000 + i), f"n{i % 3}", i % 2 == 0, i * 0.5]
        for i in range(50)
    ]
    write_xlsx(path, {"S": rows}, shared_strings=True)
    with xlsx.XlsxWorkbook(path) as wb:
        data = wb._zip.read(wb.sheet_member("S")).decode()
        sst = wb._shared_strings()
    bodies = [
        part.split(">", 1)[1].split("</row>", 1)[0]
        for part in data.split("<row ")[1:]
    ]
    assert len(bodies) == len(rows)
    assert all('s="1"' in b for b in bodies[1:])
    for body in bodies:
        assert _decode_strict_cells(body, sst, format_float) is not None, body


def test_strict_refuses_anything_else():
    # escapes, reordered attrs, non-numeric styles, multi-run inline
    # strings, missing r, trailing junk — every one must defer to
    # ElementTree
    for body in (
        '<c r="A1"><v>1&amp;2</v></c>',
        '<c s="3" r="A1"><v>1</v></c>',
        '<c r="A1" t="n" s="3"><v>1</v></c>',
        '<c r="A1" s="x"><v>1</v></c>',
        '<c t="b" r="A1"><v>1</v></c>',
        '<c r="A1" t="inlineStr"><is><t>a</t><t>b</t></is></c>',
        "<c><v>1</v></c>",
        '<c r="A1"><v>1</v></c>junk',
        'junk<c r="A1"><v>1</v></c>',
        '<c r="A1" t="inlineStr"><is><t xml:space="preserve">a&lt;b</t></is></c>',
    ):
        assert dec(body) is None, body


def test_strict_empty_row_body():
    assert dec("") == []
