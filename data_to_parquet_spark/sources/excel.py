"""Excel → DataFrame source: the engine's replacement for the reference's
fixed pipeline (``src/lib.rs:30-65``), re-expressed Spark-first.

Both Spark surfaces — :func:`read_excel` (and :func:`read_excel_all_sheets`
on top of it) and ``spark.read.format("excel")`` (:mod:`.datasource`) — are
built from the same two halves defined here:

* driver side, :func:`expand_paths` and :func:`plan_scan` make every
  planning decision: the file list, the readability check, sheet
  resolution, the header-row schema (exact reference naming rules,
  ``build_headers``; all nullable strings, ``src/lib.rs:229-234``) and, for
  one large ``.xlsx``, the XML split and its offsets;
* executor side, :func:`read_file` (one task per workbook — parallelism
  across files/executors replaces the reference's 8 hard-coded worker
  threads, ``src/lib.rs:169,237``) and the split's per-fragment reader run
  the stdlib streaming decoders (:mod:`.xlsx` / :mod:`.xlsb`) through one
  densify-and-batch helper and yield ``pyarrow.RecordBatch`` es of
  ``batch_size`` rows straight to the JVM, replacing the reference's
  hand-rolled RecordBatch pivot (``src/lib.rs:403-439``).

Scale posture: at 100 TB (= millions of workbooks) the file list itself is
a DataFrame, planning opens the first workbook once (its sheet map, shared
strings and at most one inflate of the selected sheet part), and each
task's memory is bounded by one batch + the shared-string table of its own
file. No driver-side materialization of data ever happens.
"""

from __future__ import annotations

import glob
import itertools
import os
from typing import Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..errors import DataToParquetError
from ..kernels import build_headers
from .xlsx import XlsxWorkbook, _fast_path_eligible, walk_buffer, walk_rows_fast

__all__ = [
    "read_excel",
    "read_excel_all_sheets",
    "scan_sheet",
    "open_workbook",
    "DEFAULT_BATCH_SIZE",
]

DEFAULT_BATCH_SIZE = 5000  # reference default: src/main.rs:31-32

# single .xlsx files whose sheet XML exceeds this are split across tasks
SPLIT_THRESHOLD_BYTES = 4 * 1024 * 1024


def open_workbook(path: str):
    """Extension dispatch (reference O3, ``src/main.rs:50-62``)."""
    ext = os.path.splitext(path)[1].lower().lstrip(".")
    if ext == "xlsx":
        return XlsxWorkbook(path)
    if ext == "xlsb":
        from .xlsb import XlsbWorkbook

        return XlsbWorkbook(path)
    raise DataToParquetError(
        f"Unsupported file extension: {ext!r} (expected xlsx or xlsb)"
    )


def expand_paths(paths: str | list[str]) -> list[str]:
    """Expand globs and directories (a directory means every workbook in
    it); plain paths pass through unchecked."""
    out: list[str] = []
    for p in [paths] if isinstance(paths, str) else paths:
        if os.path.isdir(p):
            out += sorted(
                glob.glob(os.path.join(p, "*.xlsx"))
                + glob.glob(os.path.join(p, "*.xlsb"))
            )
        elif any(ch in p for ch in "*?["):
            out += sorted(glob.glob(p))
        else:
            out.append(p)
    return out


def unique_names(headers: list[str]) -> list[str]:
    """``__dupN``-suffix the residual collisions of the reference naming
    rules (``a, a_2, a`` -> ``a, a_2, a_2``), which Spark plans reject."""
    seen: dict[str, int] = {}
    out = []
    for h in headers:
        k = seen.get(h, 0)
        seen[h] = k + 1
        out.append(h if k == 0 else f"{h}__dup{k}")
    return out


def string_schema(names: list[str]) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


class _Header(NamedTuple):
    names: list[str]  # [] for an empty sheet
    start_col: int | None
    num_cols: int | None
    row_idx: int | None
    rows: Iterator  # the data rows after the header


def _read_header(rows, dims, skip_rows: int) -> _Header:
    """Consume ``rows`` through the header row.

    Geometry comes from the declared dimension box ``dims``
    (``src/lib.rs:160-162``) when present, else from the header row's own
    extent. Rows before ``header_row_idx = start_row + skip_rows`` are
    discarded (``src/lib.rs:162,206-223``); the header row goes through
    ``build_headers`` (``src/lib.rs:441-465``)."""
    start_col = num_cols = row_idx = None
    if dims is not None:
        (r0, c0), (_, c1) = dims
        start_col, num_cols, row_idx = c0, c1 - c0 + 1, r0 + skip_rows
    header_cells: dict[int, str] = {}
    pending = None
    for row, cells in rows:
        if row_idx is None:
            row_idx = row + skip_rows
        if row < row_idx:
            continue  # leading-row discard (O5)
        if row == row_idx:
            header_cells = dict(cells)
            continue
        pending = (row, cells)
        break
    if row_idx is None or (start_col is None and not header_cells):
        # empty sheet, or neither a dimension box nor header cells
        return _Header([], None, None, None, iter(()))
    if start_col is None:
        # no dimension element: infer span from the header row extent
        start_col = min(header_cells)
        num_cols = max(header_cells) - start_col + 1
    if pending is not None:
        rows = itertools.chain([pending], rows)
    return _Header(
        build_headers(header_cells, num_cols, start_col),
        start_col,
        num_cols,
        row_idx,
        rows,
    )


def _dense_batches(
    rows, start_col: int, num_cols: int, batch_size: int
) -> Iterator[list[list[str | None]]]:
    """Densify sparse rows over the header's column span — absent cell →
    None (NULL), present-but-empty cell → ``""`` (``src/lib.rs:398`` vs
    ``:428-433``), cells beyond the span dropped (``src/lib.rs:424-425``)
    — in batches of ``batch_size`` rows (``src/main.rs:31-32``)."""
    end_col = start_col + num_cols
    buf: list[list[str | None]] = []
    for _, cells in rows:
        dense: list[str | None] = [None] * num_cols
        for col, s in cells:
            if start_col <= col < end_col:  # width truncation (O9)
                dense[col - start_col] = s
        buf.append(dense)
        if len(buf) >= batch_size:
            yield buf
            buf = []
    if buf:
        yield buf


def _record_batches(batches, names: list[str]) -> Iterator[pa.RecordBatch]:
    """Row-major batches → Arrow via the C-level ``zip(*batch)``
    transpose; columns are positional, so ``names`` must be unique."""
    for batch in batches:
        yield pa.RecordBatch.from_arrays(
            [pa.array(col, type=pa.string()) for col in zip(*batch)], names
        )


def scan_sheet(
    wb,
    sheet: str,
    skip_rows: int = 0,
    batch_size: int = DEFAULT_BATCH_SIZE,
) -> tuple[list[str], Iterator[list[list[str | None]]]]:
    """Stream one sheet: returns (headers, iterator of row-batches), with
    the reference's scan semantics end to end (leading-row skip, header
    naming, densify, width truncation, batch size — see
    :func:`_read_header` and :func:`_dense_batches`)."""
    h = _read_header(wb.iter_rows_str(sheet), wb.dimensions(sheet), skip_rows)
    if not h.names:
        return [], iter(())
    return h.names, _dense_batches(h.rows, h.start_col, h.num_cols, batch_size)


def read_file(
    path: str,
    expected: list[str],
    sheet_name: str | None,
    sheet_index: int | None,
    skip_rows: int,
    batch_size: int,
) -> Iterator[pa.RecordBatch]:
    """Executor side, one workbook: Arrow batches with the
    :func:`unique_names` of ``expected``. Raises when the file's header
    row does not match — same-position columns would otherwise be
    silently remapped."""
    names = unique_names(expected)
    with open_workbook(path) as wb:
        sheet = wb.resolve_sheet(sheet_name, sheet_index)
        headers, batches = scan_sheet(wb, sheet, skip_rows, batch_size)
        if unique_names(headers) != names:
            raise DataToParquetError(
                f"{path!r}: header row {headers} does not match the schema "
                f"inferred from the first file {list(expected)}"
            )
        yield from _record_batches(batches, names)


class SheetSplit(NamedTuple):
    """A single strict-tier-eligible sheet part cut at ``<row`` boundaries
    into byte ranges. Each range is decoded between the part's own head
    ``[0, offsets[0])`` (through ``<sheetData …>``, with every namespace
    declaration in scope for the rows) and tail ``[offsets[-1], end)``."""

    offsets: list[int]  # range i = [offsets[i], offsets[i + 1])
    start_col: int
    num_cols: int
    header_row_idx: int


class ExcelScan(NamedTuple):
    names: list[str]  # output column names (may repeat)
    split: SheetSplit | None
    sheet_xml: bytes | None  # the inflated part, set with ``split``


def plan_scan(
    paths: list[str],
    sheet_name: str | None = None,
    sheet_index: int | None = None,
    skip_rows: int = 0,
    *,
    expected: list[str] | None = None,
    max_splits: int = 0,
) -> ExcelScan:
    """Driver-side planning for one scan of (already expanded) ``paths``.

    Opens ``paths[0]`` once — its readability check, sheet resolution and
    header scan — and checks that every other path opens too. Output
    names are ``expected`` (a caller schema) or the first file's header
    row.

    With ``max_splits`` > 0, one ``.xlsx`` whose sheet part is at least
    ``SPLIT_THRESHOLD_BYTES`` and declares a dimension box is planned as
    a split: the part is inflated once, and that buffer feeds the header
    scan, the strict-tier eligibility scan, the explicit-``r`` check and
    the split offsets. Split fragments never see the header row, so a
    caller schema is validated against it here.
    """
    data = headers = None
    with open_workbook(paths[0]) as wb:
        for p in paths[1:]:
            open_workbook(p).close()
        sheet = wb.resolve_sheet(sheet_name, sheet_index)
        member = wb.sheet_member(sheet)
        if (
            max_splits
            and len(paths) == 1
            and isinstance(wb, XlsxWorkbook)
            and wb._zip.getinfo(member).file_size >= SPLIT_THRESHOLD_BYTES
        ):
            dims = wb.dimensions(sheet)
            # without a dimension box geometry must be inferred from the
            # cell stream; only the streaming path implements that
            if dims is not None:
                data = wb._zip.read(member)
        if data is not None:
            # ElementTree parses only as far as the first data row
            rows = walk_buffer(data, wb._shared_strings())
            header = _read_header(rows, dims, skip_rows)
            headers = header.names
        elif expected is None:
            headers, _ = scan_sheet(wb, sheet, skip_rows, batch_size=1)
    if expected is None:
        if not headers:
            raise DataToParquetError(f"no header row found in {paths[0]!r}")
        names = headers
    else:
        names = list(expected)
        if headers is not None and headers != names:
            raise DataToParquetError(
                f"{paths[0]!r}: header row {headers} does not match the "
                f"provided schema {names}"
            )
    if data is None:
        return ExcelScan(names, None, None)

    # byte-offset cuts are sound only on a part the strict tier may take:
    # no comment, CDATA or DTD can hide a "<row", and the part is UTF-8.
    # Fragments re-number r-less rows from 0, which would corrupt the
    # header-relative indexing, so every row start tag (every "<row"
    # inside <sheetData>) must begin with an r attribute, as mainstream
    # writers emit it. Any other part streams in one task.
    start = data.find(b"<sheetData")
    end = data.rfind(b"</sheetData>")
    body_start = data.find(b"<row", start)
    if (
        not _fast_path_eligible(data)
        or start < 0
        or end < 0
        or body_start < 0
        or body_start > end
        or data.count(b"<row", body_start, end)
        != data.count(b"<row r=", body_start, end)
    ):
        return ExcelScan(names, None, None)
    approx = max(1, (end - body_start) // max_splits)
    offsets = [body_start]
    while True:
        nxt = data.find(b"<row", offsets[-1] + approx)
        if nxt < 0 or nxt >= end:
            break
        offsets.append(nxt)
    offsets.append(end)
    split = SheetSplit(offsets, header.start_col, header.num_cols, header.row_idx)
    return ExcelScan(names, split, data)


def infer_schema(
    path: str,
    sheet_name: str | None = None,
    sheet_index: int | None = None,
    skip_rows: int = 0,
) -> T.StructType:
    """Driver-side schema inference: header row of one file only."""
    return string_schema(plan_scan([path], sheet_name, sheet_index, skip_rows).names)


def _task_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """One slice (= one task) per row, in order. An explicit-slices local
    collection is already perfectly distributed, where createDataFrame
    plus a repartition pays a full extra shuffle stage (measured: 1.11 s
    -> 0.52 s for the 16-file fleet parse at the bench fixture size)."""
    sc = spark.sparkContext
    return spark.createDataFrame(sc.parallelize(rows, len(rows)), ddl)


def read_excel(
    spark: SparkSession,
    paths: str | list[str],
    *,
    sheet_name: str | None = None,
    sheet_index: int | None = None,
    skip_rows: int = 0,
    batch_size: int = DEFAULT_BATCH_SIZE,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read one or many Excel workbooks into a DataFrame of nullable strings.

    Equivalent surface to the reference CLI/API options
    (``src/main.rs:7-33``): sheet selection by name/index/default, leading-row
    skip, batch size. Multi-file reads require a shared schema (taken from the
    first file), mirroring "one conversion = one schema". Passing ``schema``
    (all nullable strings, names = expected header row) skips the driver-side
    header scan — callers that already parsed the workbook (e.g.
    :func:`read_excel_all_sheets`) avoid re-reading it; executor tasks still
    validate each file's actual header row against it.
    """
    paths = expand_paths(paths)
    if not paths:
        raise DataToParquetError("no input paths")
    sc = spark.sparkContext
    # the split's scratch file lives on the driver's local disk — executors
    # can only read it in local mode (cluster mode would need a shared FS)
    local = sc.master.startswith("local")
    scan = plan_scan(
        paths,
        sheet_name,
        sheet_index,
        skip_rows,
        expected=schema.fieldNames() if schema is not None else None,
        max_splits=max(1, min(sc.defaultParallelism, 64)) if local else 0,
    )
    out_names = scan.names
    # read_file's batches carry unique names (format("excel") has no way
    # to rename afterwards); here the duplicates the reference naming
    # rules can produce are restored via toDF
    arrow_schema = string_schema(unique_names(out_names))
    if scan.split is not None:
        df = _split_frame(spark, paths[0], scan, arrow_schema, batch_size)
    else:

        def reader(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                for path in rb.column(0).to_pylist():
                    yield from read_file(
                        path, out_names, sheet_name, sheet_index, skip_rows, batch_size
                    )

        files = _task_frame(spark, [(p,) for p in paths], "path string")
        df = files.mapInArrow(reader, arrow_schema)
    return df if arrow_schema.fieldNames() == out_names else df.toDF(*out_names)


def _split_frame(
    spark: SparkSession,
    path: str,
    scan: ExcelScan,
    schema: T.StructType,
    batch_size: int,
) -> DataFrame:
    """Parallelize ONE large .xlsx across tasks, one per planned byte range.

    The deflate stream itself can't be range-read, so the planner's one
    inflate of the sheet part is written to a scratch file. Each task reads
    its range of whole ``<row>`` elements and wraps it in the part's own
    head and tail (see :class:`SheetSplit`), so every namespace declaration
    in scope for the rows comes along; the result is an eligible part of
    fewer rows, which :func:`.xlsx.walk_rows_fast` decodes (handing off to
    ElementTree at a row the strict tier cannot tile) into the streaming
    path's densify helper. ``test_split_path_equivalence`` and the
    Excel-style split tests pin the two paths to the same rows.
    """
    import atexit
    import tempfile

    split = scan.split
    scratch = tempfile.NamedTemporaryFile(
        prefix="d2p_sheet_", suffix=".xml", delete=False
    )
    scratch.write(scan.sheet_xml)
    scratch.close()
    scratch_path = scratch.name
    atexit.register(lambda: os.path.exists(scratch_path) and os.remove(scratch_path))
    names = schema.fieldNames()
    head_end, tail_start = split.offsets[0], split.offsets[-1]

    def frag_reader(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sst: list[str] | None = None
        for rb in batches:
            for lo, hi in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()):
                if sst is None:
                    with XlsxWorkbook(path) as wb:
                        sst = wb._shared_strings()
                with open(scratch_path, "rb") as f:
                    head = f.read(head_end)
                    f.seek(lo)
                    frag = f.read(hi - lo)
                    f.seek(tail_start)
                    tail = f.read()
                rows = walk_rows_fast(head + frag + tail, sst)
                # leading rows + header row were planned on the driver
                data_rows = (r for r in rows if r[0] > split.header_row_idx)
                yield from _record_batches(
                    _dense_batches(
                        data_rows, split.start_col, split.num_cols, batch_size
                    ),
                    names,
                )

    offsets = split.offsets
    ranges = list(zip(offsets, offsets[1:]))
    return _task_frame(spark, ranges, "lo long, hi long").mapInArrow(
        frag_reader, schema
    )


def read_excel_all_sheets(
    spark: SparkSession,
    path: str,
    *,
    skip_rows: int = 0,
    batch_size: int = DEFAULT_BATCH_SIZE,
    sheet_column: str = "_sheet",
) -> DataFrame:
    """Union every sheet of ONE workbook into a single DataFrame, each row
    tagged with its sheet name in ``sheet_column``.

    The reference resolves exactly one sheet per conversion
    (``src/lib.rs:105-124`` — ``get_sheet_name`` returns a single name and
    errors otherwise); this is the multi-sheet extension of that surface,
    the pandas ``sheet_name=None`` ergonomic. Each sheet is read through
    :func:`read_excel` with its OWN inferred header schema (the reference
    naming rules apply per sheet), then the frames are unioned by column
    NAME with ``allowMissingColumns=True`` so heterogeneous sheets surface
    NULL for the columns they lack — the same additive-evolution contract
    as the parquet mergeSchema path. Column order: first sheet's columns,
    then ``sheet_column``, then new columns in sheet order.

    Scale: each sheet is an independent :func:`read_excel` plan (single-
    file split parallelism included), and the union is a zero-shuffle
    plan-level concatenation — Spark unions are not exchanges. The
    workbook is parsed ONCE on the driver (sheet list + every header
    row); each per-sheet plan receives its schema instead of re-scanning
    the header.

    Sheets whose header names collide after the reference dedup-suffix
    rules (the ``a, a_2, a`` edge read_excel supports positionally) are
    rejected — a BY-NAME union has no well-defined target for a
    duplicated name; and a sheet already containing ``sheet_column`` is
    rejected rather than silently overwritten.
    """
    with open_workbook(path) as wb:
        names = wb.sheet_names
        if not names:
            raise DataToParquetError(f"{path!r}: workbook has no sheets")
        headers = {
            name: scan_sheet(wb, name, skip_rows, batch_size=1)[0]
            for name in names
        }
    for name, hdr in headers.items():
        if not hdr:
            raise DataToParquetError(
                f"{path!r}: no header row found in sheet {name!r}"
            )
        if len(set(hdr)) < len(hdr):
            raise DataToParquetError(
                f"{path!r}: sheet {name!r} has duplicate header names "
                f"{hdr}; a by-name union is ambiguous — read it "
                f"positionally via read_excel(sheet_name={name!r})"
            )
        if sheet_column in hdr:
            raise DataToParquetError(
                f"{path!r}: sheet {name!r} already has a column named "
                f"{sheet_column!r}; pass a different sheet_column"
            )
    from pyspark.sql import functions as F

    out: DataFrame | None = None
    for name in names:
        part = read_excel(
            spark,
            path,
            sheet_name=name,
            skip_rows=skip_rows,
            batch_size=batch_size,
            schema=string_schema(headers[name]),
        ).withColumn(sheet_column, F.lit(name))
        out = (
            part
            if out is None
            else out.unionByName(part, allowMissingColumns=True)
        )
    return out
