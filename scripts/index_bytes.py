#!/usr/bin/env python
"""Where the bytes of a built index go, read from the files alone (no
Spark session):

    python scripts/index_bytes.py <base>

For each tree of <base> (idx, segments, possegs) it prints its bytes —
the data files under it, names starting with "." or "_" left out, the
same walk as perfbench/run.py's dir_bytes — then, for each parquet
table inside (the packed rows, their doc tables under _docs, the idx
tables), its bytes and every column's compressed bytes summed over the
parquet footers, largest first. It ends with the id-stream bytes per
posting of each packed tree: the varbyte rank-gap stream (`doc_ids`)
against the postings its rows hold (`n_docs`). The last line is the
same report as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

TREES = ("idx", "segments", "possegs")
PACKED = ("segments", "possegs")


def _data_files(root: str):
    """(path relative to `root`, bytes) of every data file under it."""
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                yield os.path.relpath(p, root), os.path.getsize(p)


def _table_of(rel: str) -> str:
    """The table a data file belongs to: its directory with the
    partition directories (name=value) left out."""
    parts = rel.split(os.sep)[:-1]
    return "/".join(p for p in parts if "=" not in p)


def report(base: str) -> dict:
    out: dict = {"trees": {}, "id_stream_bytes_per_posting": {}}
    for tree in TREES:
        root = os.path.join(base, tree)
        if not os.path.isdir(root):
            continue
        tables: dict[str, dict] = {}
        for rel, size in _data_files(root):
            t = tables.setdefault(
                "/".join(x for x in (tree, _table_of(rel)) if x),
                {"bytes": 0, "columns": {}},
            )
            t["bytes"] += size
            if not rel.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(root, rel)).metadata
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    name = col.path_in_schema.split(".")[0]
                    t["columns"][name] = (t["columns"].get(name, 0)
                                          + col.total_compressed_size)
        out["trees"][tree] = {
            "bytes": sum(t["bytes"] for t in tables.values()),
            "tables": tables,
        }
        if tree in PACKED and tree in tables:
            rows = pq.read_table(root, columns=["doc_ids", "n_docs"])
            postings = pc.sum(rows["n_docs"]).as_py() or 0
            stream = pc.sum(pc.binary_length(rows["doc_ids"])).as_py() or 0
            out["id_stream_bytes_per_posting"][tree] = {
                "bytes": stream, "postings": postings,
                "per_posting": round(stream / postings, 3) if postings else 0.0,
            }
    out["bytes"] = sum(t["bytes"] for t in out["trees"].values())
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", help="index base: <base>/{idx,segments,possegs}")
    args = ap.parse_args(argv)
    if not os.path.isdir(args.base):
        print(f"index_bytes: no directory {args.base}", file=sys.stderr)
        return 2
    rep = report(args.base)
    for tree, t in rep["trees"].items():
        print(f"{tree:<24}{t['bytes']:>12} B")
        for name, tab in sorted(t["tables"].items()):
            print(f"  {name:<22}{tab['bytes']:>12} B")
            for col, n in sorted(tab["columns"].items(),
                                 key=lambda kv: (-kv[1], kv[0])):
                print(f"    {col:<20}{n:>12} B")
    for tree, s in rep["id_stream_bytes_per_posting"].items():
        print(f"id stream {tree}: {s['per_posting']} B/posting "
              f"({s['bytes']} B, {s['postings']} postings)")
    print(f"{'total':<24}{rep['bytes']:>12} B")
    print(json.dumps(rep, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
