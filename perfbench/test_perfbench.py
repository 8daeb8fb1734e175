"""Tests of the benchmark itself: generator determinism, the output checkers
and the self-time arithmetic. Spark-free; run with

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import random
import sys
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from spans import Span, Tracer, self_time_by_name, self_times  # noqa: E402

ROWS = 300
BATCH = 64


def _members(path: str) -> dict[str, bytes]:
    with zipfile.ZipFile(path) as z:
        return {n: z.read(n) for n in z.namelist()}


# -- generator -------------------------------------------------------------

def test_rows_are_a_function_of_the_seed():
    a = gen.make_rows(random.Random("single-1"), ROWS, 0)
    assert a == gen.make_rows(random.Random("single-1"), ROWS, 0)
    assert a != gen.make_rows(random.Random("single-2"), ROWS, 0)


@pytest.mark.parametrize("make", [
    lambda d, s: gen.single_inputs(d, s, ROWS),
    lambda d, s: gen.fleet_inputs(d, s, ROWS, 4),
])
def test_written_workbooks_are_a_function_of_the_seed(tmp_path, make):
    one = make(str(tmp_path / "a"), 7)
    two = make(str(tmp_path / "b"), 7)
    other = make(str(tmp_path / "c"), 8)
    # zip entries carry write times, so compare the archived members
    assert [_members(p) for p in one.paths] == [_members(p) for p in two.paths]
    assert [_members(p) for p in one.paths] != [_members(p) for p in other.paths]
    assert one.expected == two.expected != other.expected


def test_fleet_mixes_xlsx_and_xlsb_under_one_header(tmp_path):
    inputs = gen.fleet_inputs(str(tmp_path), 3, 16 * 10)
    exts = [os.path.splitext(p)[1] for p in inputs.paths]
    assert exts.count(".xlsx") == 12 and exts.count(".xlsb") == 4
    assert inputs.expected.n_rows == 160
    assert inputs.expected.values["id"] == [str(i) for i in range(160)]


def test_inputs_have_absent_and_empty_cells_and_shared_strings(tmp_path):
    inputs = gen.single_inputs(str(tmp_path), 5, 5000)
    exp = inputs.expected
    assert exp.null_counts["id"] == 0
    for col in gen.HEADER[1:]:
        assert 0.03 < exp.null_counts[col] / exp.n_rows < 0.07
    assert "" in exp.values["category"] and "" in exp.values["customer"]
    assert "xl/sharedStrings.xml" in _members(inputs.paths[0])
    (d,) = inputs.descriptors
    assert d["sst_entries"] > 4000  # high-cardinality customer column
    assert d["sheet_part_bytes"] > d["file_bytes"]


# -- Excel output checker --------------------------------------------------

def _table(exp: gen.Expected) -> pa.Table:
    """A correct conversion's output, built from the expectations."""
    cols = {}
    for h in exp.header:
        if h in exp.values:
            cols[h] = pa.array(exp.values[h], pa.string())
        else:  # a column checked by null count only
            nulls = exp.null_counts[h]
            cols[h] = pa.array([None] * nulls + ["1.5"] * (exp.n_rows - nulls), pa.string())
    return pa.table(cols)


@pytest.fixture
def single(tmp_path):
    inputs = gen.single_inputs(str(tmp_path / "in"), 1, ROWS)
    return inputs.expected, _table(inputs.expected), str(tmp_path / "out.parquet")


def test_single_checker_accepts_a_correct_file(single):
    exp, table, out = single
    pq.write_table(table, out, row_group_size=BATCH)
    assert checks.check_excel_output(out, exp, row_group_rows=BATCH) == []


def test_single_checker_rejects_a_dropped_row(single):
    exp, table, out = single
    pq.write_table(table.slice(0, ROWS - 1), out, row_group_size=BATCH)
    assert checks.check_excel_output(out, exp, row_group_rows=BATCH)


def test_single_checker_rejects_an_altered_cell(single):
    exp, table, out = single
    ids = table.column("qty").to_pylist()
    i = next(k for k, v in enumerate(ids) if v is not None)
    ids[i] = str(int(ids[i]) + 1)
    table = table.set_column(table.schema.get_field_index("qty"), "qty", pa.array(ids))
    pq.write_table(table, out, row_group_size=BATCH)
    assert any("qty" in p for p in checks.check_excel_output(out, exp, row_group_rows=BATCH))


def test_single_checker_rejects_a_wrong_row_group_size(single):
    exp, table, out = single
    pq.write_table(table, out, row_group_size=BATCH - 1)
    assert any("row groups" in p for p in checks.check_excel_output(out, exp, row_group_rows=BATCH))


def test_single_checker_rejects_reordered_rows(single):
    exp, table, out = single
    pq.write_table(table.take(list(range(ROWS - 1, -1, -1))), out, row_group_size=BATCH)
    assert checks.check_excel_output(out, exp, row_group_rows=BATCH)


def _write_dataset(table: pa.Table, out: str) -> None:
    os.makedirs(out)
    half = table.num_rows // 2
    # parts in reverse id order: the dataset checker compares in id order
    pq.write_table(table.slice(half), os.path.join(out, "part-0.parquet"))
    pq.write_table(table.slice(0, half), os.path.join(out, "part-1.parquet"))


def test_dataset_checker_accepts_parts_in_any_order(single, tmp_path):
    exp, table, _ = single
    _write_dataset(table, str(tmp_path / "ds"))
    assert checks.check_excel_output(str(tmp_path / "ds"), exp) == []


def test_dataset_checker_rejects_a_dropped_row_and_an_altered_cell(single, tmp_path):
    exp, table, _ = single
    _write_dataset(table.slice(1), str(tmp_path / "dropped"))
    assert checks.check_excel_output(str(tmp_path / "dropped"), exp)
    names = table.column("customer").to_pylist()
    i = next(k for k, v in enumerate(names) if v)
    names[i] = names[i] + "x"
    altered = table.set_column(table.schema.get_field_index("customer"), "customer", pa.array(names))
    _write_dataset(altered, str(tmp_path / "altered"))
    assert any("customer" in p for p in checks.check_excel_output(str(tmp_path / "altered"), exp))


# -- query output checker --------------------------------------------------

def test_query_digest_matches_the_same_rows_and_rejects_changes(tmp_path):
    import decimal

    import duckdb

    rows = [(3, "c", decimal.Decimal("1.50")), (1, "a", decimal.Decimal("2.00")),
            (2, "b", None)]
    names = ["k", "s", "v"]
    want = checks.digest(*checks.sorted_rows(names, rows))

    def written(rs) -> str:
        out = tmp_path / f"q{len(list(tmp_path.iterdir()))}"
        out.mkdir()
        cols = list(zip(*rs))
        pq.write_table(
            pa.table({"v": pa.array(cols[2], pa.decimal128(10, 3)),
                      "k": pa.array(cols[0], pa.int64()), "s": pa.array(cols[1])}),
            str(out / "part-0.parquet"),
        )
        con = duckdb.connect()
        try:
            return checks.output_digest(con, str(out))
        finally:
            con.close()

    # column order and decimal scale do not matter; values and rows do
    assert written(rows) == (want, 3)
    assert written(rows[1:])[0] != want
    assert written([(3, "c", decimal.Decimal("1.5")), rows[1], (2, "B", None)])[0] != want


# -- spans -----------------------------------------------------------------

def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 5.0, 0),  # overlaps span 1: union 1..5 is 4 s
        _span(3, 1.5, 2.0, 1),  # grandchild: counts against span 1 only
        _span(4, 9.0, 12.0, 0),  # runs past its parent: clipped to 9..10
        _span(5, 20.0, 21.0),  # a second root
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)
    # self times of a well-nested tree add up to the root durations
    nested = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0), _span(2, 5.0, 6.0, 0),
              _span(3, 2.0, 3.0, 1)]
    assert sum(self_times(nested).values()) == pytest.approx(10.0)


def test_tracer_records_parents_and_sums_self_time_by_name():
    tr = Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent, s.run_id) for s in tr.spans] == [
        ("outer", None, "run-1"), ("inner", 0, "run-1"), ("inner", 0, "run-1"),
    ]
    by_name = self_time_by_name(tr.spans)
    total = tr.spans[0].end - tr.spans[0].start
    assert by_name["outer"] + by_name["inner"] == pytest.approx(total)
    off = Tracer("run-2", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []
