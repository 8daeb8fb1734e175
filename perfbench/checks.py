"""Output checks. Each returns a list of problems; an empty list means the
output is correct. Parquet files are read back with pyarrow or DuckDB, never
with the program's own readers or formatting functions."""

from __future__ import annotations

import decimal
import glob
import hashlib
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import Expected


def parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return [path]


def footer_stats(path: str) -> dict:
    """Rows, bytes and row groups of a Parquet file or dataset directory,
    read from the footers."""
    rows = groups = size = 0
    for f in parquet_files(path):
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        groups += md.num_row_groups
        size += os.path.getsize(f)
    return {"rows": rows, "row_groups": groups, "bytes": size}


def check_excel_output(
    path: str, expected: Expected, *, row_group_rows: int | None = None
) -> list[str]:
    """Compare a converted Parquet file (or dataset directory) with what the
    generator says the conversion must hold.

    A single file (``row_group_rows`` given) must keep the input row order
    and hold row groups of exactly ``row_group_rows`` rows, the last one
    partial; a dataset directory is compared in ``id`` order.
    """
    files = parquet_files(path)
    if not files:
        return [f"no parquet output at {path}"]
    problems: list[str] = []
    tables = []
    for f in files:
        pf = pq.ParquetFile(f)
        if pf.schema_arrow.names != expected.header:
            problems.append(f"{os.path.basename(f)}: header {pf.schema_arrow.names}")
            continue
        if row_group_rows is not None:
            sizes = [pf.metadata.row_group(i).num_rows for i in range(pf.num_row_groups)]
            if any(s != row_group_rows for s in sizes[:-1]) or not (
                sizes and 0 < sizes[-1] <= row_group_rows
            ):
                problems.append(f"row groups {sizes[:3]}... not {row_group_rows} rows each")
        tables.append(pf.read())
    if problems:
        return problems
    table = pa.concat_tables(tables)
    if table.num_rows != expected.n_rows:
        return [f"rows {table.num_rows} != {expected.n_rows}"]
    for col, n in expected.null_counts.items():
        got = table.column(col).null_count
        if got != n:
            problems.append(f"{col}: {got} nulls, expected {n}")
    if row_group_rows is None:
        order = pc.sort_indices(pc.cast(table.column("id"), pa.int64()))
        table = table.take(order)
    for col, want in expected.values.items():
        got = table.column(col).to_pylist()
        if got != want:
            i = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
            problems.append(f"{col}: row {i} is {got[i]!r}, expected {want[i]!r}")
    return problems


# -- query outputs ---------------------------------------------------------

def sorted_rows(names: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Rows projected to the sorted column names, normalized as
    tests/test_oracle_parity.py does (plus Decimals in a scale-free form, so
    equal values from differently-typed columns digest alike), and sorted."""
    from tests.test_oracle_parity import _norm, _sort_key

    def canonical(v):
        return format(v.normalize(), "f") if isinstance(v, decimal.Decimal) else _norm(v)

    cols = sorted(names)
    idx = [names.index(c) for c in cols]
    return cols, sorted(
        (tuple(canonical(r[i]) for i in idx) for r in rows), key=_sort_key
    )


def digest(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:32]


def output_digest(con, out_dir: str) -> tuple[str, int]:
    """(digest, rows) of a query result written as a Parquet directory."""
    res = con.execute(
        f"SELECT * FROM read_parquet('{os.path.join(out_dir, '*.parquet')}')"
    )
    names = [d[0] for d in res.description]
    cols, rows = sorted_rows(names, res.fetchall())
    return digest(cols, rows), len(rows)


def oracle_digests(sf_dir: str, oracles: dict[str, str]) -> dict[str, tuple[str, int]]:
    """{query: (digest, rows)} of each oracle SQL on the tables in sf_dir."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in glob.glob(os.path.join(sf_dir, "*.parquet")):
            name = os.path.splitext(os.path.basename(t))[0]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
        out = {}
        for q, sql in oracles.items():
            res = con.execute(sql)
            names = [d[0] for d in res.description]
            cols, rows = sorted_rows(names, res.fetchall())
            out[q] = (digest(cols, rows), len(rows))
        return out
    finally:
        con.close()
