#!/usr/bin/env python
"""Compare two index directories and print the first difference.

  python scripts/index_diff.py IDX_A IDX_B

Compared, in this order, over each index's live generation only (the
files field_stats.json lists; other files in the postings/ and term_stats/
pools are not read):
  - postings block rows, every column (payload bytes included), sorted by
    (bucket, term, salt, block_id) — file names and file counts are not;
  - the term_stats (term, df, cf) rows, sorted by term;
  - field_stats.json, without the generation bookkeeping: "generation",
    the "postings" and "term_stats" file lists, and "folded_deltas" (delta
    batch names differ between two runs of the same ingest).

An index written before field_stats.json listed its files (no
"generation") is read whole from its table directories.

Exit status 0 when the indexes are identical, 1 otherwise.  Reads with
pyarrow only; no Spark session is started.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.dataset as ds

POSTINGS_KEY = ["bucket", "term", "salt", "block_id"]
BOOKKEEPING = ("generation", "postings", "term_stats", "folded_deltas")


def _read(index_dir: str, table: str, key: list[str],
          columns: list[str] | None = None) -> pa.Table:
    pool = os.path.join(index_dir, table)
    with open(os.path.join(index_dir, "field_stats.json")) as f:
        fs = json.load(f)
    files = [os.path.join(index_dir, p) for p in fs[table]] \
        if "generation" in fs else pool
    rows = ds.dataset(files, format="parquet", partitioning="hive",
                      partition_base_dir=pool).to_table(columns=columns)
    return rows.sort_by([(c, "ascending") for c in key])


def table_diff(a: pa.Table, b: pa.Table, key: list[str], label: str) -> str | None:
    """The first difference between two tables sorted by `key`, or None."""
    if sorted(a.column_names) != sorted(b.column_names):
        return f"{label}: columns {sorted(a.column_names)} vs {sorted(b.column_names)}"
    b = b.select(a.column_names)
    if a.num_rows != b.num_rows:
        return f"{label}: {a.num_rows} rows vs {b.num_rows} rows"
    first: dict[str, int] = {}
    for name in a.column_names:
        x, y = a[name].combine_chunks(), b[name].combine_chunks()
        if x.type != y.type:
            return f"{label}: column {name} is {x.type} vs {y.type}"
        if not x.equals(y):
            first[name] = next(
                i for i, (u, v) in enumerate(zip(x.to_pylist(), y.to_pylist()))
                if u != v
            )
    if not first:
        return None
    row = min(first.values())
    cols = [c for c, i in first.items() if i == row]

    def at(t: pa.Table) -> dict:
        return {c: t[c][row].as_py() for c in key + cols}

    return f"{label}: row {row} differs in {cols}: {at(a)} vs {at(b)}"


def field_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "field_stats.json")) as f:
        fs = json.load(f)
    return {k: v for k, v in fs.items() if k not in BOOKKEEPING}


def index_diff(a: str, b: str) -> str | None:
    """The first difference between index dirs a and b, or None."""
    diff = table_diff(
        _read(a, "postings", POSTINGS_KEY),
        _read(b, "postings", POSTINGS_KEY),
        POSTINGS_KEY, "postings",
    )
    if diff:
        return diff
    cols = ["term", "df", "cf"]
    diff = table_diff(
        _read(a, "term_stats", ["term"], cols),
        _read(b, "term_stats", ["term"], cols),
        ["term"], "term_stats",
    )
    if diff:
        return diff
    fa, fb = field_stats(a), field_stats(b)
    keys = sorted(k for k in fa.keys() | fb.keys() if fa.get(k) != fb.get(k))
    if keys:
        return "field_stats: " + "; ".join(
            f"{k}: {fa.get(k)!r} vs {fb.get(k)!r}" for k in keys
        )
    return None


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    diff = index_diff(*argv)
    if diff:
        print(diff)
        return 1
    print("identical")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
