"""Pin the pandas dtype KIND of every DuckDB oracle output column
against the committed snapshot (tools/oracle_dtypes.json).

Why: the driver hashes raw values, so an oracle column silently changing
numeric kind — the classic case being DuckDB promoting integer window /
aggregate sums to HUGEINT, which pandas surfaces as float64 while Spark
emits int64 — produces a value-equal-but-hash-red driver row (the round-3
`tx_pack` failure). This test catches that class WITHOUT a Spark session
(~60 s on a 4-core host, nearly all of it the fixture running every DuckDB
oracle): any new or edited oracle whose column kinds drift from the
snapshot fails here with a message naming the column.

If a drift is INTENTIONAL (new query, deliberate type change), regenerate
the snapshot and re-run the full gate:
  python tools/round_start_check.py  # the full N/N gate must stay green
  python -c "..."                    # see tools/round_start_check.py docs
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

HERE = os.path.dirname(os.path.abspath(__file__))
SNAPSHOT = os.path.join(HERE, "..", "tools", "oracle_dtypes.json")
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def oracle_kinds():
    con = duckdb.connect()
    for f in glob.glob(f"{SF_DIR}/*.parquet"):
        name = os.path.basename(f).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    kinds = {}
    for k, sql in entrymod.oracle_sql().items():
        df = con.execute(sql).fetchdf()
        kinds[k] = {c: df[c].dtype.kind for c in df.columns}
    return kinds


def test_every_oracle_column_kind_matches_snapshot(oracle_kinds):
    with open(SNAPSHOT) as fh:
        recorded = json.load(fh)
    problems = []
    for q, cols in oracle_kinds.items():
        if q not in recorded:
            problems.append(f"{q}: not in snapshot (new query? regenerate)")
            continue
        for c, kind in cols.items():
            want = recorded[q].get(c)
            if want is None:
                problems.append(f"{q}.{c}: column not in snapshot")
            elif kind != want:
                problems.append(
                    f"{q}.{c}: kind {kind!r} != snapshot {want!r} "
                    "(HUGEINT leak? CAST the oracle SQL to BIGINT)"
                )
        for c in recorded[q]:
            if c not in cols:
                problems.append(f"{q}.{c}: column vanished from oracle output")
    assert not problems, "\n".join(problems)


def test_no_unsnapshotted_oracles(oracle_kinds):
    with open(SNAPSHOT) as fh:
        recorded = json.load(fh)
    assert set(oracle_kinds) == set(recorded)
