#!/usr/bin/env python3
"""Re-pins the batch_llm result digests and cross-checks them with DuckDB.

Runs the query list at sf0.1 twice in fresh JVMs (`run.py --pin`); the two
passes must agree on every query's (rows, hash) digest. The first pass also
writes, as `graft.Verify` does, each oracle query's result and
`oracle_sql.json`; the repository's own oracle gate, `tools/check.py`, then
compares them with DuckDB over the full sf0.1 fixture. Writes
evbench/pins.json; exits non-zero without writing it when any step
disagrees.

Run it only when a change is meant to alter a query's result, and say so
in the change's description.

Usage (from the repository root):

    python3 evbench/pin.py <sf0.1 fixture dir>

The fixture directory holds every table `tools/check.py` reads
(FIXTURES.md); its documents and embeddings must be the same files as
evbench/data/sf0.1.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".work", "pin")
DATA = os.path.join(HERE, "data", "sf0.1")


def pin_pass(n):
    d = os.path.join(OUT, str(n))
    shutil.rmtree(d, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--pin", d], check=True)
    with open(os.path.join(d, "pins.json")) as fh:
        return d, json.load(fh)


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    fixture = sys.argv[1]
    for t in ("documents.parquet", "embeddings.parquet"):
        if not filecmp.cmp(os.path.join(DATA, t), os.path.join(fixture, t), shallow=False):
            sys.exit("pin: %s differs from the fixture's" % os.path.join(DATA, t))
    d1, p1 = pin_pass(1)
    _, p2 = pin_pass(2)
    if p1 != p2:
        diff = sorted(q for q in p1 if p1[q] != p2.get(q))
        sys.exit("pin: two passes disagree on %s" % diff)
    with open(os.path.join(d1, "oracle_sql.json")) as fh:
        oracle = sorted(json.load(fh))
    if subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), fixture, d1]).returncode:
        sys.exit("pin: DuckDB disagrees (see above)")
    for q, v in p1.items():
        v["duckdb_sf0.1"] = "match" if q in oracle else "no oracle"
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(p1, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(OUT, ignore_errors=True)
    print("pinned %d queries; DuckDB matched %s" % (len(p1), oracle))


if __name__ == "__main__":
    main()
