"""Streaming .xlsx cell reader built on the stdlib (zipfile + ElementTree).

The container has no openpyxl, so this module parses the OOXML SpreadsheetML
format directly — the format is a public ISO/ECMA spec (ECMA-376). The reader
reproduces the reference's scan semantics (``src/lib.rs:30-65``): a lazy,
row-major, *sparse* cell stream — absent cells are never emitted; explicitly
present but valueless cells are emitted as Empty (→ ``""`` downstream, while
absent cells densify to NULL — the reference's critical null-vs-empty-string
distinction, ``src/lib.rs:398`` vs ``:428-433``).

Sheet parts decode on one of two tiers: the strict tokenizer
(:func:`walk_rows_fast`) for the cell shapes machine writers emit, and
ElementTree (:func:`walk_rows`), the reference for everything else. At the
first row the strict tier cannot decode it hands the rest of the part to
ElementTree. Both tiers stringify a cell through :func:`_cell_text`.

Memory profile: ``ElementTree.iterparse`` with element eviction keeps only one
``<row>`` subtree resident; the shared-strings table is loaded up front (as
calamine also does). That bounds per-task memory at O(row + sst), which is the
same bound the reference claims (``README.md:9``). Exception: sheet parts and
shared-strings parts up to ``_FAST_BUFFER_LIMIT`` are inflated into memory
for the strict tier — per-task memory is then
O(min(sheet, limit) + min(sst part, limit) + sst); larger parts are streamed
through ``iterparse``.
"""

from __future__ import annotations

import io
import itertools
import re
import zipfile
from typing import Iterator
from xml.etree import ElementTree as ET

from ..errors import DataToParquetError
from ..kernels import _ERROR_TOKENS as _XLSX_ERR_TOKENS
from ..kernels import format_float

__all__ = ["XlsxWorkbook", "ZipWorkbook", "parse_cell_ref", "parse_dimension"]

_MAIN_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
)
_PKG_REL_NS = (
    "{http://schemas.openxmlformats.org/package/2006/relationships}"
)
_T, _R = f"{_MAIN_NS}t", f"{_MAIN_NS}r"

_CELL_REF_RE = re.compile(r"^([A-Z]+)(\d+)$")


def _cell_text(
    t: str | None, v: str | None, sst: list[str], format_float
) -> str:
    """A cell's ``t=`` type and ``<v>`` text → its normalized string
    (``src/lib.rs:387-400``); a missing or empty ``<v>`` is a
    present-but-empty cell."""
    if not v:
        return ""
    if t is None or t == "n":
        # int fast path (calamine parses i64 first, f64 fallback)
        digits = v[1:] if v[0] == "-" else v
        if digits.isdigit():
            # canonical form passes through untouched; "007"/"-0"
            # renormalize via int()
            if (
                len(digits) <= 18
                and (digits == "0" or digits[0] != "0")
                and v != "-0"
            ):
                return v
            iv = int(v)
            if -(2**63) <= iv < 2**63:
                return str(iv)
            # beyond i64 → f64 like calamine
        try:
            return format_float(float(v))
        except ValueError:
            return v
    if t == "s":
        try:
            return sst[int(v)]
        except (ValueError, IndexError):
            return v
    if t == "b":
        return "false" if v in ("0", "false", "FALSE") else "true"
    if t == "e":
        return _XLSX_ERR_TOKENS.get(v, v)
    return v  # "str", "d", unknown -> literal text


def _rst_text(el) -> str:
    """Text of a rich-text element (``<si>``, ``<is>``): its direct
    ``<t>`` plus the ``<t>`` of each ``<r>`` run. Phonetic ``<rPh>`` runs
    are skipped, as Excel displays the text, calamine's ``read_string``
    reads it and the xlsb reader decodes it."""
    return "".join(
        t.text or ""
        for run in el
        if run.tag == _T or run.tag == _R
        for t in run.iter(_T)
    )


def walk_rows(stream, sst: list[str]):
    """ElementTree row walker over a SpreadsheetML sheet part: yields
    (row_idx, [(col, normalized_string), ...]) per physically-present
    ``<row>``, keeping one row subtree resident."""
    ROW, C, V, IS = (f"{_MAIN_NS}{tag}" for tag in ("row", "c", "v", "is"))
    row_counter = -1
    for _, el in ET.iterparse(stream):  # end events only
        if el.tag != ROW:
            continue
        r_attr = el.get("r")
        row_counter = int(r_attr) - 1 if r_attr else row_counter + 1
        out: list[tuple[int, str]] = []
        col = -1
        for c in el:
            if c.tag != C:
                continue
            ref = c.get("r")
            if ref:
                # manual A1 parse (letters only; row already known)
                acc = 0
                for ch in ref:
                    o = ord(ch)
                    if o < 65 or o > 90:
                        break
                    acc = acc * 26 + (o - 64)
                col = acc - 1
            else:
                col += 1
            # the first direct <v> or <is> child wins
            text = ""
            for child in c:
                if child.tag == V:
                    text = _cell_text(c.get("t"), child.text, sst, format_float)
                    break
                if child.tag == IS:
                    text = _rst_text(child)
                    break
            out.append((col, text))
        yield row_counter, out
        el.clear()


def walk_buffer(data: bytes, sst: list[str]):
    """:func:`walk_rows` over an in-memory part. An abandoned iterparse is
    a reference cycle that only a garbage collection frees, so the stream
    is closed on exit to let go of ``data`` even when the rows are not
    drained."""
    with io.BytesIO(data) as stream:
        yield from walk_rows(stream, sst)


# --- strict tier -----------------------------------------------------------
# SpreadsheetML from real producers (Excel, openpyxl, this repo's fixture
# writer) declares the main namespace as the DEFAULT namespace and never by
# prefix, never uses CDATA/comments/PIs/DTDs inside sheet parts, and is
# UTF-8. Under those conditions (cheaply verified over the whole buffer up
# front) every "<row" in the text starts a row (or a <rowBreaks>), so rows
# can be located with string finds and their bodies tokenized with one
# regex — ~2.5× faster than ElementTree iterparse. A row the tokenizer
# cannot prove hands the rest of the part to ElementTree, so the tier is
# never silently wrong.

# Per-part inflate-to-memory bound for the strict tier. Deliberately small:
# with one task per workbook, every concurrent task may hold, for the sheet
# part, buffer + decoded text (~3× this) and, for the shared-strings part,
# buffer + decoded text (+ an end-of-line copy when it holds a raw CR) next
# to the table itself (~3× this again) at once, so the cap — not O(row)
# streaming — becomes the per-task memory bound whenever the strict tier
# engages. Parts above the cap stream through ElementTree (sheets may also
# take the XML-split path for single large files).
_FAST_BUFFER_LIMIT = 32 * 1024 * 1024
_MAIN_NS_URI = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
# any prefixed namespace declaration, whatever its prefix characters,
# spacing or quotes
_XMLNS_PREFIX_RE = re.compile(rb'xmlns:[^\s=]+\s*=\s*(["\'])(.*?)\1')
_ROW_TAIL = " />\t\r\n"
_ROW_R_RE = re.compile(r'\br="(\d+)"')
#: Shared-string entry as machine writers emit it: one plain ``<t>`` run
#: without escapes. Accepted only when every ``<si`` in the part matched.
_SI_RE = re.compile(r'<si><t(?: xml:space="preserve")?>([^<&]*)</t></si>')


def _fast_path_eligible(data: bytes) -> bool:
    # the sheet must actually live in the SpreadsheetML main namespace as
    # the DEFAULT namespace — otherwise the strict tier would "parse" rows
    # the namespace-keyed ET walker would (correctly) not recognize at all
    if data.find(b'xmlns="' + _MAIN_NS_URI.encode() + b'"') == -1:
        return False
    if data.find(b"<!") != -1:  # comment, CDATA section or DTD
        return False
    if data.find(b"<?", 1) != -1:  # any PI beyond the leading XML decl
        return False
    if data.find(b"<extLst") != -1:
        # extension lists may carry elements of any namespace, so a "<row"
        # inside one need not be a worksheet row
        return False
    head = data[:200]
    if b"encoding" in head and b"UTF-8" not in head and b"utf-8" not in head:
        return False
    for m in _XMLNS_PREFIX_RE.finditer(data):
        if m.group(2) == _MAIN_NS_URI.encode():
            return False  # prefixed main-ns elements are possible → defer
    return True


def _eol(text: str) -> str:
    """XML 1.0 end-of-line handling (section 2.11), which ElementTree
    applies while parsing: ``\r\n`` and a lone ``\r`` become ``\n``.
    A ``&#13;`` reference stays ``\r``; the strict tier refuses text with
    references, so ElementTree resolves it."""
    if "\r" in text:
        return text.replace("\r\n", "\n").replace("\r", "\n")
    return text


#: Strict single-pass cell tokenizer for the three machine-written cell
#: shapes: self-closing, ``<v>`` scalar without XML escapes, and
#: single-run ``<t xml:space="preserve">`` inline string without escapes.
#: Attributes are accepted only as ``r``, then an optional numeric style
#: ``s``, then an optional ``t`` — the order ECMA-376 ``CT_Cell`` declares
#: and Excel writes (every number-formatted cell, dates included, carries
#: ``s=``). Styles never affect the decoded text, so ``s`` is skipped. A
#: row parses on this tier ONLY when consecutive matches tile its entire
#: body (checked below) — any other attribute, attribute order, escape,
#: child element or element form leaves a gap, and ElementTree decodes
#: that row and the rest of the part. Per cell the tier either proves one
#: of the three shapes or defers.
_STRICT_CELL_RE = re.compile(
    r'<c r="([A-Z]{1,3})\d*"(?: s="\d+")?(?: t="([a-zA-Z]+)")?'
    r'(?:/>'
    r"|><v>([^<&]*)</v></c>"
    r'|><is><t xml:space="preserve">([^<&]*)</t></is></c>)'
)


def _decode_strict_cells(
    body: str, sst: list[str], format_float
) -> list[tuple[int, str]] | None:
    """Decode a ``<row>`` body via :data:`_STRICT_CELL_RE`; None when the
    matches do not tile the body exactly."""
    out: list[tuple[int, str]] = []
    pos = 0
    for m in _STRICT_CELL_RE.finditer(body):
        if m.start() != pos:
            return None
        pos = m.end()
        letters, t, v, istext = m.groups()
        acc = 0
        for ch in letters:
            acc = acc * 26 + (ord(ch) - 64)
        out.append(
            (acc - 1, _cell_text(t, v, sst, format_float) if istext is None else istext)
        )
    return out if pos == len(body) else None


def walk_rows_fast(data: bytes, sst: list[str]):
    """Strict-tier row walker over a whole sheet-part buffer, with
    :func:`walk_rows`' contract; only called when :func:`_fast_path_eligible`
    proved the preconditions. At the first row the strict tier cannot
    tile, :func:`walk_buffer` decodes the buffer from the start and the
    rows already yielded (self-closing ones included) are skipped; a
    buffer that is not UTF-8 goes to :func:`walk_buffer` whole."""
    try:
        text = _eol(data.decode("utf-8"))
    except UnicodeDecodeError:
        yield from walk_buffer(data, sst)
        return
    n = len(text)
    pos = done = 0
    row_counter = -1
    while True:
        i = text.find("<row", pos)
        if i < 0:
            return
        tail = i + 4
        if tail < n and text[tail] not in _ROW_TAIL:
            pos = tail  # e.g. <rowBreaks>
            continue
        j = text.find(">", i)
        if j < 0:
            break
        if text[j - 1] == "/":  # self-closing: physically-present, empty
            cells = []
            pos = j + 1
        else:
            k = text.find("</row>", j)
            if k < 0:
                break
            cells = _decode_strict_cells(text[j + 1 : k], sst, format_float)
            if cells is None:
                break
            pos = k + 6
        m = _ROW_R_RE.search(text, i, j)
        row_counter = int(m.group(1)) - 1 if m else row_counter + 1
        yield row_counter, cells
        done += 1
    # a row the strict tier cannot tile (or a truncated one)
    yield from itertools.islice(walk_buffer(data, sst), done, None)


def load_shared_strings_fast(data: bytes) -> list[str] | None:
    """One-regex shared-strings loader over a whole ``sharedStrings.xml``
    buffer; only called when ``_fast_path_eligible`` proved the
    preconditions. Same result as :func:`load_shared_strings` when every
    entry is one plain ``<t>`` run without escapes (the shape machine
    writers emit); None for anything else (rich runs, phonetic runs,
    entity or character references, a part that is not UTF-8), so the
    caller parses it with ElementTree instead."""
    try:
        text = _eol(data.decode("utf-8"))
    except UnicodeDecodeError:
        return None
    # matched text holds no "<" and eligibility rules out comments and
    # CDATA, so each match is one whole plain entry; when the matches
    # account for every "<si" in the part, they are the table
    sst = _SI_RE.findall(text)
    return sst if len(sst) == text.count("<si") else None


def load_shared_strings(stream) -> list[str]:
    """ElementTree shared-strings loader: streams ``<si>`` entries with
    element eviction, each through :func:`_rst_text`."""
    sst: list[str] = []
    for _, el in ET.iterparse(stream):
        if el.tag == f"{_MAIN_NS}si":
            sst.append(_rst_text(el))
            el.clear()
    return sst


def parse_cell_ref(ref: str) -> tuple[int, int]:
    """``"B3"`` -> (row=2, col=1), both 0-based."""
    m = _CELL_REF_RE.match(ref)
    if not m:
        raise DataToParquetError(f"bad cell reference: {ref!r}")
    letters, digits = m.groups()
    col = 0
    for ch in letters:
        col = col * 26 + (ord(ch) - 64)
    return int(digits) - 1, col - 1


def parse_dimension(ref: str) -> tuple[tuple[int, int], tuple[int, int]]:
    """``"A1:F100"`` -> ((0,0),(99,5)); single-cell ``"A1"`` -> ((0,0),(0,0))."""
    if ":" in ref:
        a, b = ref.split(":", 1)
        return parse_cell_ref(a), parse_cell_ref(b)
    cell = parse_cell_ref(ref)
    return cell, cell


class ZipWorkbook:
    """Zip container, sheet map and sheet selection shared by the xlsx and
    xlsb readers; subclasses parse their own workbook part and shared
    strings."""

    _KIND: str  # format name in the open error
    _RELS: str  # workbook relationships part

    def __init__(self, path: str) -> None:
        self.path = path
        try:
            self._zip = zipfile.ZipFile(path)
        except (zipfile.BadZipFile, OSError) as e:
            raise DataToParquetError(
                f"cannot open {self._KIND} {path!r}: {e}"
            ) from e
        self._sheet_targets = self._load_sheet_map()
        self._sst: list[str] | None = None

    def _load_sheet_map(self) -> list[tuple[str, str]]:
        """[(sheet_name, zip_member_path)] in workbook order."""
        raise NotImplementedError

    def _rel_targets(self) -> dict[str, str]:
        """Workbook relationship id -> zip member path."""
        rels: dict[str, str] = {}
        try:
            with self._zip.open(self._RELS) as f:
                for _, el in ET.iterparse(f):
                    if el.tag == f"{_PKG_REL_NS}Relationship":
                        target = el.get("Target", "")
                        if target.startswith("/"):
                            target = target.lstrip("/")
                        else:
                            target = "xl/" + target
                        rels[el.get("Id", "")] = target
        except KeyError:
            pass
        return rels

    @property
    def sheet_names(self) -> list[str]:
        return [name for name, _ in self._sheet_targets]

    def sheet_member(self, sheet: str) -> str:
        """Zip member path of the sheet part."""
        return dict(self._sheet_targets)[sheet]

    def resolve_sheet(
        self, sheet_name: str | None = None, sheet_index: int | None = None
    ) -> str:
        """Reference sheet-selection rules (``get_sheet_name``, src/lib.rs:105-124):
        explicit name > 0-based index (bounds-checked) > first sheet."""
        names = self.sheet_names
        if sheet_name is not None:
            if sheet_name not in names:
                raise DataToParquetError(f"Sheet {sheet_name!r} not found")
            return sheet_name
        if sheet_index is not None:
            if sheet_index >= len(names) or sheet_index < 0:
                raise DataToParquetError(
                    f"Sheet index {sheet_index} out of bounds"
                )
            return names[sheet_index]
        if not names:
            raise DataToParquetError("No worksheets found")
        return names[0]

    def _shared_strings(self) -> list[str]:
        if self._sst is None:
            try:
                self._sst = self._load_shared_strings()
            except KeyError:  # no shared-strings part
                self._sst = []
        return self._sst

    def _load_shared_strings(self) -> list[str]:
        raise NotImplementedError

    def close(self) -> None:
        self._zip.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class XlsxWorkbook(ZipWorkbook):
    """Lazily-scanning .xlsx workbook (reference O1/O4 semantics)."""

    _KIND = "xlsx"
    _RELS = "xl/_rels/workbook.xml.rels"

    def _load_sheet_map(self) -> list[tuple[str, str]]:
        rels = self._rel_targets()
        sheets: list[tuple[str, str]] = []
        with self._zip.open("xl/workbook.xml") as f:
            for _, el in ET.iterparse(f):
                if el.tag == f"{_MAIN_NS}sheet":
                    rid = el.get(f"{_REL_NS}id", "")
                    target = rels.get(rid, f"xl/worksheets/sheet{len(sheets) + 1}.xml")
                    sheets.append((el.get("name", f"Sheet{len(sheets) + 1}"), target))
        return sheets

    def _load_shared_strings(self) -> list[str]:
        """Parts up to ``_FAST_BUFFER_LIMIT`` are inflated into memory and
        go through :func:`load_shared_strings_fast` when eligible (else
        ElementTree over the buffer); larger ones stream through
        :func:`load_shared_strings`."""
        member = "xl/sharedStrings.xml"
        if self._zip.getinfo(member).file_size > _FAST_BUFFER_LIMIT:
            with self._zip.open(member) as f:
                return load_shared_strings(f)
        data = self._zip.read(member)
        sst = load_shared_strings_fast(data) if _fast_path_eligible(data) else None
        return sst if sst is not None else load_shared_strings(io.BytesIO(data))

    def dimensions(self, sheet: str) -> tuple[tuple[int, int], tuple[int, int]] | None:
        """The sheet's declared dimension box, if present."""
        with self._zip.open(self.sheet_member(sheet)) as f:
            for event, el in ET.iterparse(f, events=("start",)):
                tag = el.tag
                if tag == f"{_MAIN_NS}dimension":
                    ref = el.get("ref")
                    return parse_dimension(ref) if ref else None
                if tag == f"{_MAIN_NS}sheetData":
                    return None  # no dimension element before data
        return None

    def iter_rows_str(
        self, sheet: str
    ) -> Iterator[tuple[int, list[tuple[int, str]]]]:
        """Yields (row_idx, [(col, normalized_string), ...]) for each
        physically-present row, cells already normalized per the
        reference stringify rules (``src/lib.rs:387-400``).

        Sheet parts up to ``_FAST_BUFFER_LIMIT`` are inflated into memory
        and decode on the strict tier (:func:`walk_rows_fast`) when
        eligible, else on :func:`walk_rows`; larger ones stream through
        :func:`walk_rows` (one ``<row>`` subtree resident at a time).
        ``tests/test_excel_source.py::test_fast_and_et_walkers_agree`` and
        the property scan pin the two tiers to the same output.
        """
        sst = self._shared_strings()
        member = self.sheet_member(sheet)
        if self._zip.getinfo(member).file_size > _FAST_BUFFER_LIMIT:
            with self._zip.open(member) as f:
                yield from walk_rows(f, sst)
            return
        data = self._zip.read(member)
        if _fast_path_eligible(data):
            yield from walk_rows_fast(data, sst)
        else:
            yield from walk_buffer(data, sst)
