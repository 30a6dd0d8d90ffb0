"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() in DuckDB
over the same sf dir; compare row count, column names/types, and values
(column-name-sorted, row-sorted, exact for ints/strings/bools, bit-exact
then 1e-9-relative fallback reporting for doubles). Every registered
query is checked unless names are given.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from wikitrender_spark.schemas import TESTDATA_TABLES
from wikitrender_spark.session import get_spark


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"columns: spark={scols} oracle={ocols}")
        return problems
    if problems:
        return problems
    s, o = normalize(sdf), normalize(odf)
    for col in s.columns:
        sv, ov = s[col], o[col]
        # Dtype-kind drift (e.g. DuckDB HUGEINT window sums surfacing as
        # float64 while Spark emits int64) hashes red under the driver even
        # when the Python values compare equal — treat it as a failure here
        # so it's caught locally (round-3 tx_pack lesson).
        kinds = {sv.dtype.kind, ov.dtype.kind}
        if (
            sv.dtype.kind != ov.dtype.kind
            and "O" not in kinds  # object columns compare by value below
            and not kinds <= {"i", "u"}  # signedness drift is benign
        ):
            problems.append(
                f"col {col}: dtype kind spark={sv.dtype} oracle={ov.dtype} "
                "(cast the oracle SQL, e.g. HUGEINT sums -> BIGINT)"
            )
            continue
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            sv = sv.astype(float)
            ov = ov.astype(float)
            exact = (sv == ov) | (sv.isna() & ov.isna())
            if not exact.all():
                bad = (~exact).sum()
                denom = ov.abs().where(ov.abs() > 1e-12, 1e-12)
                reldiff = ((sv - ov).abs() / denom).max()
                problems.append(
                    f"col {col}: {bad}/{len(sv)} float mismatches, "
                    f"max rel diff {reldiff:.3e}"
                )
        else:
            sv = sv.astype(object).where(pd.notna(sv), None)
            ov = ov.astype(object).where(pd.notna(ov), None)
            neq = sum(1 for a, b in zip(sv, ov) if a != b)
            if neq:
                i = next(i for i, (a, b) in enumerate(zip(sv, ov)) if a != b)
                problems.append(
                    f"col {col}: {neq}/{len(sv)} mismatches, first at row {i}: "
                    f"spark={sv[i]!r} oracle={ov[i]!r}"
                )
    return problems


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = get_spark("oracle-check", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows={len(sdf)} (no oracle; rows-only)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL  {name}: rows={len(sdf)}")
            for p in problems:
                print(f"      - {p}")
            failed.append(name)
        else:
            print(f"OK    {name}: rows={len(sdf)}, cols={len(sdf.columns)}")
    n_ran = len([n for n in qs if not only or n in only])
    print(f"\n{n_ran - len(failed)}/{n_ran} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
