"""Bytes per table and per column of an index's live segments, read from the
Parquet footers with pyarrow alone (no Spark session).

For the version ``HEAD`` names, prints each table's file bytes summed over
the live segments (and their tombstone tables), then per column its
compressed bytes, codecs and encodings.

Usage: python scripts/segment_bytes.py <index path>
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pyarrow.parquet as pq


def live_tables(path: str) -> dict:
    """``{table: [dir, ...]}`` of the live segment and tombstone tables."""
    with open(os.path.join(path, "HEAD")) as fh:
        version = int(fh.read().strip())
    with open(os.path.join(path, "snapshots", f"v{version:06d}.json")) as fh:
        manifest = json.load(fh)
    out: dict = {}
    for entry in manifest["segments"]:
        if entry.get("name"):
            for table in ("docs", "postings", "dict"):
                out.setdefault(table, []).append(
                    os.path.join(path, "segments", entry["name"], table)
                )
        if entry.get("tombstone_table"):
            out.setdefault("tombstones", []).append(
                os.path.join(path, "tombstones", entry["tombstone_table"])
            )
    return out


def table_report(dirs: list) -> tuple:
    """(file bytes, rows, {column: [compressed bytes, codecs, encodings]})
    over every Parquet file in ``dirs``."""
    nbytes = rows = 0
    cols: dict = {}
    for d in dirs:
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            nbytes += os.path.getsize(f)
            md = pq.ParquetFile(f).metadata
            rows += md.num_rows
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    acc = cols.setdefault(col.path_in_schema, [0, set(), set()])
                    acc[0] += col.total_compressed_size
                    acc[1].add(col.compression)
                    acc[2].update(col.encodings)
    return nbytes, rows, cols


def main(path: str) -> None:
    tables = live_tables(path)
    reports = {t: table_report(dirs) for t, dirs in tables.items()}
    total = sum(r[0] for r in reports.values())
    print(f"{path}: {total:,} bytes in live tables")
    for table, (nbytes, rows, cols) in reports.items():
        print(f"\n{table}: {nbytes:,} bytes, {rows:,} rows, "
              f"{len(tables[table])} dir(s)")
        for name, (size, codecs, encodings) in sorted(
            cols.items(), key=lambda kv: -kv[1][0]
        ):
            print(f"  {name:<28} {size:>12,}  {','.join(sorted(codecs)):<8} "
                  f"{','.join(sorted(encodings))}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
