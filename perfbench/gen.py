"""Seeded Excel inputs for the ``excel_single`` and ``excel_fleet`` workloads.

The generator builds cell specs in the convention of ``tests/xlsx_fixture``
and ``tests/xlsb_fixture`` and writes them with those writers (shared
strings on, as Excel itself writes). It also derives, from the same specs and
without calling the program, what a correct conversion must contain: the
header, the row count, per-column null counts and the exact output text of
the integer, boolean and string columns.

Inputs are written once per (seed, shape) under a cache directory, so a run
pays generation outside its timed region and a repeated seed pays nothing.
"""

from __future__ import annotations

import os
import random
import zipfile
from dataclasses import dataclass

HEADER = ["id", "amount", "qty", "active", "order_date", "category", "customer"]
#: columns whose exact output text the checkers compare
EXACT_COLS = ("id", "qty", "active", "order_date", "category", "customer")
CATEGORIES = [f"cat_{i:02d}" for i in range(20)]

ABSENT_P = 0.05  # absent cell -> NULL
EMPTY_P = 0.002  # present-but-empty cell -> ""

SINGLE_ROWS = 100_000
FLEET_FILES = 16
FLEET_XLSB_EVERY = 4  # files 3, 7, 11, 15 are .xlsb: 12 xlsx + 4 xlsb
SHEET = "Data"


def make_rows(rng: random.Random, n_rows: int, id_base: int) -> list[list]:
    """Header plus ``n_rows`` data rows of cell specs."""
    rows: list[list] = [list(HEADER)]
    rand = rng.random
    randrange = rng.randrange
    for i in range(n_rows):
        amount = None if rand() < ABSENT_P else randrange(0, 1_000_000) / 100
        qty = None if rand() < ABSENT_P else randrange(1, 1000)
        active = None if rand() < ABSENT_P else rand() < 0.5
        day = None if rand() < ABSENT_P else ("date_serial", 43831 + randrange(1461))
        r = rand()
        category = (
            None if r < ABSENT_P
            else ("empty",) if r < ABSENT_P + EMPTY_P
            else CATEGORIES[randrange(len(CATEGORIES))]
        )
        r = rand()
        customer = (
            None if r < ABSENT_P
            else ("empty",) if r < ABSENT_P + EMPTY_P
            else f"cust-{rng.getrandbits(40):010x}"
        )
        rows.append([id_base + i, amount, qty, active, day, category, customer])
    return rows


def expected_text(spec) -> str | None:
    """Output text a correct conversion gives a cell, for the EXACT_COLS
    kinds only (ints, bools, strings, integral date serials, empties)."""
    if spec is None:
        return None
    if isinstance(spec, tuple):
        if spec[0] == "empty":
            return ""
        if spec[0] == "date_serial":
            return str(spec[1])
        raise ValueError(f"no expected text for {spec!r}")
    if isinstance(spec, bool):
        return "true" if spec else "false"
    if isinstance(spec, int):
        return str(spec)
    if isinstance(spec, str):
        return spec
    raise ValueError(f"no expected text for {spec!r}")


@dataclass
class Expected:
    """What the converted output of a set of workbooks must hold."""

    header: list[str]
    n_rows: int
    null_counts: dict[str, int]
    #: column -> expected text per row, rows in ascending ``id`` order
    values: dict[str, list[str | None]]

    @classmethod
    def from_rows(cls, data_rows: list[list]) -> "Expected":
        data_rows = sorted(data_rows, key=lambda r: r[0])
        cols = list(zip(*data_rows))
        null_counts = {
            h: sum(1 for v in col if v is None) for h, col in zip(HEADER, cols)
        }
        values = {
            h: [expected_text(v) for v in col]
            for h, col in zip(HEADER, cols)
            if h in EXACT_COLS
        }
        return cls(list(HEADER), len(data_rows), null_counts, values)


@dataclass
class Inputs:
    paths: list[str]
    expected: Expected
    #: per file: bytes on disk, inflated sheet-part bytes, SST entries
    descriptors: list[dict]


def _sheet_part_bytes(path: str) -> int:
    with zipfile.ZipFile(path) as z:
        return sum(
            i.file_size
            for i in z.infolist()
            if i.filename.startswith("xl/worksheets/sheet")
        )


def _sst_entries(rows: list[list]) -> int:
    seen = set()
    for row in rows:
        for v in row:
            if isinstance(v, str):
                seen.add(v)
    return len(seen)


def _to_xlsb_specs(rows: list[list]) -> list[list]:
    # the xlsb writer has no date style; a date cell is its serial number,
    # which converts to the same text as the styled xlsx cell
    return [
        [v[1] if isinstance(v, tuple) and v[0] == "date_serial" else v for v in row]
        for row in rows
    ]


def _write(path: str, rows: list[list]) -> None:
    from tests.xlsb_fixture import write_xlsb
    from tests.xlsx_fixture import write_xlsx

    tmp = path + ".part"
    if path.endswith(".xlsb"):
        write_xlsb(tmp, {SHEET: _to_xlsb_specs(rows)})
    else:
        write_xlsx(tmp, {SHEET: rows}, shared_strings=True)
    os.replace(tmp, path)  # a cut run never leaves a half-written input


def _describe(path: str, rows: list[list]) -> dict:
    return {
        "file": os.path.basename(path),
        "file_bytes": os.path.getsize(path),
        "sheet_part_bytes": _sheet_part_bytes(path),
        "sst_entries": _sst_entries(rows),
    }


def _materialize(out_dir: str, files: list[tuple[str, list[list]]]) -> Inputs:
    os.makedirs(out_dir, exist_ok=True)
    paths, descriptors, data_rows = [], [], []
    for name, rows in files:
        path = os.path.join(out_dir, name)
        if not os.path.exists(path):
            _write(path, rows)
        paths.append(path)
        descriptors.append(_describe(path, rows))
        data_rows.extend(rows[1:])
    return Inputs(paths, Expected.from_rows(data_rows), descriptors)


def single_inputs(cache_dir: str, seed: int, n_rows: int = SINGLE_ROWS) -> Inputs:
    """One ``n_rows``-row .xlsx workbook."""
    rows = make_rows(random.Random(f"single-{seed}"), n_rows, 0)
    out_dir = os.path.join(cache_dir, f"single-s{seed}-n{n_rows}")
    return _materialize(out_dir, [("book.xlsx", rows)])


def fleet_inputs(
    cache_dir: str,
    seed: int,
    n_rows: int = SINGLE_ROWS,
    n_files: int = FLEET_FILES,
) -> Inputs:
    """``n_files`` workbooks of ``n_rows / n_files`` rows each, sharing one
    header; every ``FLEET_XLSB_EVERY``-th file is .xlsb."""
    per = n_rows // n_files
    files = []
    for f in range(n_files):
        ext = "xlsb" if f % FLEET_XLSB_EVERY == FLEET_XLSB_EVERY - 1 else "xlsx"
        rows = make_rows(random.Random(f"fleet-{seed}-{f}"), per, f * per)
        files.append((f"part{f:02d}.{ext}", rows))
    out_dir = os.path.join(cache_dir, f"fleet-s{seed}-n{n_rows}-f{n_files}")
    return _materialize(out_dir, files)


def xlsb_probe_inputs(cache_dir: str, seed: int, n_rows: int = SINGLE_ROWS // FLEET_FILES) -> Inputs:
    """One .xlsb workbook, for probing the BIFF12 decoder on its own."""
    rows = make_rows(random.Random(f"xlsb-{seed}"), n_rows, 0)
    out_dir = os.path.join(cache_dir, f"xlsb-s{seed}-n{n_rows}")
    return _materialize(out_dir, [("book.xlsb", rows)])
