#!/usr/bin/env python3
"""Column report of a LakeTable directory, read from the parquet footers alone.

Every parquet file under `<lake>/data` is put in one of three kinds by where
it sits: a DV sidecar (`data/<id>-dv/`), a bucket file (`data/<id>/_bucket=N/`)
or an L0 spanning file (`data/<id>/`). For each kind the report prints the
number of files, rows, bytes per row and footer bytes; then, for each column,
its compressed bytes per row, the page encodings its chunks use and how many
chunks carry a dictionary page. Files no snapshot references any more are
counted too: the report describes what is on disk.

Usage: python3 tools/lake_columns.py <lake-dir>
"""
import os
import sys
from collections import defaultdict

KINDS = ("L0", "bucket", "DV sidecar")


def kind_of(path):
    parent = os.path.basename(os.path.dirname(path))
    if parent.endswith("-dv"):
        return "DV sidecar"
    if parent.startswith("_bucket="):
        return "bucket"
    return "L0"


def lake_files(lake):
    data = os.path.join(lake, "data")
    if not os.path.isdir(data):
        sys.exit(f"lake_columns: no data directory under {lake}")
    for d, _, names in os.walk(data):
        for n in sorted(names):
            if n.endswith(".parquet"):
                yield os.path.join(d, n)


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[-1])
    try:
        import pyarrow.parquet as pq
    except ImportError:
        sys.exit("lake_columns: pyarrow is required (pip install pyarrow)")
    kinds = {k: {"files": 0, "rows": 0, "bytes": 0, "footer": 0,
                 "cols": defaultdict(lambda: {"bytes": 0, "enc": set(),
                                              "dict": 0, "chunks": 0})}
             for k in KINDS}
    for path in lake_files(sys.argv[1]):
        meta = pq.ParquetFile(path).metadata
        k = kinds[kind_of(path)]
        k["files"] += 1
        k["rows"] += meta.num_rows
        k["bytes"] += os.path.getsize(path)
        k["footer"] += meta.serialized_size
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                col = k["cols"][cc.path_in_schema]
                col["bytes"] += cc.total_compressed_size
                col["enc"].update(cc.encodings)
                col["dict"] += int(cc.has_dictionary_page)
                col["chunks"] += 1
    for name in KINDS:
        k = kinds[name]
        if k["files"] == 0:
            continue
        rows = max(k["rows"], 1)
        print(f"== {name}: {k['files']} files, {k['rows']} rows, "
              f"{k['bytes'] / rows:.1f} B/row, {k['footer']} footer B "
              f"({k['footer'] / k['files']:.0f} B/file)")
        print(f"  {'column':<12} {'B/row':>8}  {'dict chunks':>11}  encodings")
        for col, v in sorted(k["cols"].items(), key=lambda kv: -kv[1]["bytes"]):
            print(f"  {col:<12} {v['bytes'] / rows:>8.2f}  "
                  f"{v['dict']:>5}/{v['chunks']:<5}  {','.join(sorted(v['enc']))}")


if __name__ == "__main__":
    main()
