#!/usr/bin/env python3
"""Writes zero-row copies of a fixture directory's tables.

Usage: python3 tools/derive_empty.py <sfDir> <outDir>

For each `<name>.parquet` in <sfDir> (e.g. the sf0.01 tables) it
writes <outDir>/<name>.parquet holding the same arrow schema, metadata
included, and no row (`Table.slice(0, 0)`). The copy is a fixture
directory like any other: `graft.Verify` and `tools/selfcheck.py` run on
it as they run on <sfDir>, e.g.

    python3 tools/derive_empty.py <testdata>/sf0.01 /tmp/sf_empty
    sbt "runMain graft.Verify /tmp/sf_empty /tmp/verify_empty"
    python3 tools/selfcheck.py /tmp/verify_empty /tmp/sf_empty
"""
import os
import sys

import pyarrow.parquet as pq


def derive(sf_dir: str, out_dir: str) -> list:
    os.makedirs(out_dir, exist_ok=True)
    names = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    for name in names:
        table = pq.read_table(os.path.join(sf_dir, name))
        pq.write_table(table.slice(0, 0), os.path.join(out_dir, name))
    return names


def main(argv: list) -> int:
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    sf_dir, out_dir = argv[1], argv[2]
    for name in derive(sf_dir, out_dir):
        print(f"{out_dir}/{name}: 0 rows")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
