"""Where an index's bytes go: per table and per parquet column.

    python tools/index_bytes.py <index_dir> [input_bytes]

Reads only parquet footers (pyarrow metadata), never the data pages.
A table is a directory holding parquet files, with its ``key=value``
partition directories folded in (``postings/bucket=3/*.parquet`` and
``delta/00000/postings/bucket=1/*.parquet`` count as ``postings`` and
``delta/00000/postings``). File bytes count every file but ``.crc``
checksums and ``_SUCCESS`` markers, as perfbench's
``index_bytes_per_input_byte`` does; the other files (stats.json,
manifests) are listed as ``(metadata)``. Per column, ``compressed`` and
``uncompressed`` are the column chunks' sizes summed over every row
group, with the codecs seen. Given ``input_bytes`` (the indexed text's
size), the total's ratio to it is printed too.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def _table_of(rel_dir: str) -> str:
    parts = [p for p in rel_dir.split(os.sep) if p and p != "."]
    while parts and "=" in parts[-1]:
        parts.pop()
    return "/".join(parts) or "."


def scan(root: str) -> tuple[dict, dict]:
    """``(file_bytes per table, {table: {column: [compressed,
    uncompressed, codecs]}})`` for the index under ``root``."""
    table_bytes: dict[str, int] = defaultdict(int)
    cols: dict[str, dict[str, list]] = defaultdict(dict)
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".crc") or f == "_SUCCESS":
                continue
            path = os.path.join(d, f)
            size = os.path.getsize(path)
            if not f.endswith(".parquet"):
                table_bytes["(metadata)"] += size
                continue
            table = _table_of(os.path.relpath(d, root))
            table_bytes[table] += size
            md = pq.ParquetFile(path).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    ch = g.column(c)
                    acc = cols[table].setdefault(ch.path_in_schema, [0, 0, set()])
                    acc[0] += ch.total_compressed_size
                    acc[1] += ch.total_uncompressed_size
                    acc[2].add(ch.compression)
    return dict(table_bytes), dict(cols)


def report(root: str, input_bytes: int | None = None) -> str:
    table_bytes, cols = scan(root)
    total = sum(table_bytes.values())
    out = [f"{'table':<40} {'bytes':>12} {'share':>7}"]
    for t, b in sorted(table_bytes.items(), key=lambda kv: -kv[1]):
        out.append(f"{t:<40} {b:>12,} {b / max(total, 1):>7.1%}")
    out.append(f"{'total':<40} {total:>12,}")
    if input_bytes:
        out.append(f"index bytes per input byte: {total / input_bytes:.4f}")
    for t in sorted(cols, key=lambda t: -table_bytes[t]):
        out.append("")
        out.append(f"{t + ' column':<40} {'compressed':>12} {'uncompressed':>13}  codecs")
        for c, (comp, unc, codecs) in sorted(cols[t].items(), key=lambda kv: -kv[1][0]):
            out.append(f"{c:<40} {comp:>12,} {unc:>13,}  {','.join(sorted(codecs))}")
    return "\n".join(out)


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2) or not os.path.isdir(argv[0]):
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    print(report(argv[0], int(argv[1]) if len(argv) == 2 else None))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
