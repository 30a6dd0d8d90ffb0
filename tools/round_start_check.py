"""Round-start smoke check (VERDICT r3 #6): catch driver testdata drift
BEFORE building on stale assumptions.

1. Dump every testdata parquet schema and diff it against the committed
   snapshot (tools/testdata_schemas.json). Drift is printed loudly and
   the snapshot can be refreshed with --update once the drift is
   understood (then re-verify every query that reads the changed table).
2. Run the local oracle gate (tools/check_oracle.py) at the given SF,
   which re-verifies every registered query on CURRENT testdata.

Usage: python tools/round_start_check.py [sf_dir] [--update] [--skip-gate]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SNAPSHOT = os.path.join(HERE, "testdata_schemas.json")
SF_ROOT = "/root/testdata"


def dump_schemas() -> dict:
    out: dict = {}
    for sf in sorted(os.listdir(SF_ROOT)):
        d = os.path.join(SF_ROOT, sf)
        if not os.path.isdir(d):
            continue
        out[sf] = {}
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            s = pq.read_schema(os.path.join(d, f))
            out[sf][f] = {n: str(t) for n, t in zip(s.names, s.types)}
    return out


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    sf_dir = args[0] if args else os.path.join(SF_ROOT, "sf0.01")

    current = dump_schemas()
    if "--update" in flags or not os.path.exists(SNAPSHOT):
        with open(SNAPSHOT, "w") as fh:
            json.dump(current, fh, indent=2, sort_keys=True)
        print(f"schema snapshot written: {SNAPSHOT}")
    else:
        with open(SNAPSHOT) as fh:
            recorded = json.load(fh)
        drift = []
        for sf, tables in current.items():
            for tbl, schema in tables.items():
                old = recorded.get(sf, {}).get(tbl)
                if old is None:
                    drift.append(f"NEW TABLE {sf}/{tbl}")
                elif old != schema:
                    changed = {
                        c: (old.get(c), schema.get(c))
                        for c in set(old) | set(schema)
                        if old.get(c) != schema.get(c)
                    }
                    drift.append(f"CHANGED {sf}/{tbl}: {changed}")
        for sf, tables in (recorded or {}).items():
            for tbl in tables:
                if tbl not in current.get(sf, {}):
                    drift.append(f"REMOVED {sf}/{tbl}")
        if drift:
            print("TESTDATA SCHEMA DRIFT DETECTED:")
            for d in drift:
                print(f"  - {d}")
            print("review affected readers, then rerun with --update")
        else:
            print("schemas match the committed snapshot")

    if "--skip-gate" in flags:
        return 0
    print(f"\nrunning full local oracle gate at {sf_dir} ...")
    rc = subprocess.call(
        [sys.executable, os.path.join(HERE, "check_oracle.py"), sf_dir]
    )
    return rc


if __name__ == "__main__":
    sys.exit(main())
