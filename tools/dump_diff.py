#!/usr/bin/env python3
"""Compare two graft.Verify dump dirs row by row.

Usage: python3 tools/dump_diff.py <dirA> <dirB> [name ...]

For each catalog row (every name with a dump in either dir when no names
are given) it compares the Spark schema each side wrote into its parquet
footers and the decoded rows, canonicalized with local_verify's `canon`
(columns sorted by name, rows sorted, list cells as JSON). Parquet bytes
are not compared: parquet-mr writes a column chunk's encodings list in
varying order, so two dumps of the same answer differ in a few bytes.

Prints one line per name (SAME, DIFF, MISSING) and a summary; exits 1 on
any DIFF or MISSING.
"""
import glob
import json
import os
import sys

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from local_verify import canon  # noqa: E402

SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def files(d: str, name: str) -> list:
    return sorted(glob.glob(f"{d}/{name}/*.parquet"))


def spark_schema(paths: list):
    """The Spark schema from the first footer that carries one (every
    part file of one write carries the same), else the arrow schema."""
    for p in paths:
        meta = pq.read_schema(p).metadata or {}
        if SPARK_SCHEMA_KEY in meta:
            return json.loads(meta[SPARK_SCHEMA_KEY])
    return str(pq.read_schema(paths[0]).remove_metadata())


def names_in(d: str) -> set:
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(f"{d}/*/*.parquet")}


def compare(a: str, b: str, name: str) -> str:
    fa, fb = files(a, name), files(b, name)
    if not fa or not fb:
        side = " and ".join(s for s, f in (("A", fa), ("B", fb)) if not f)
        return f"MISSING {name}: no dump in {side}"
    sa, sb = spark_schema(fa), spark_schema(fb)
    if sa != sb:
        return f"DIFF {name}: schema A={sa} B={sb}"
    ra = canon(pd.read_parquet(f"{a}/{name}"))
    rb = canon(pd.read_parquet(f"{b}/{name}"))
    if len(ra) != len(rb):
        return f"DIFF {name}: rows A={len(ra)} B={len(rb)}"
    if not ra.equals(rb):
        for c in ra.columns:
            x, y = ra[c], rb[c]
            neq = ~((x == y) | (x.isna() & y.isna()))
            if neq.any():
                i = neq.idxmax()
                return f"DIFF {name}: col {c} row {i} A={x[i]!r} B={y[i]!r}"
        return f"DIFF {name}: dtypes A={list(ra.dtypes)} B={list(rb.dtypes)}"
    return f"SAME {name} ({len(ra)} rows)"


def main(argv: list) -> int:
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b, names = argv[0], argv[1], argv[2:]
    names = names or sorted(names_in(a) | names_in(b))
    bad = 0
    for name in names:
        line = compare(a, b, name)
        print(line)
        bad += not line.startswith("SAME")
    print(f"\n{len(names) - bad} same, {bad} differ or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
