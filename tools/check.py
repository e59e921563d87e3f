#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` twin
in DuckDB on the same parquet tables, then compares row count, schema
(sorted column names) and an order-insensitive value comparison
(columns sorted by name, rows sorted by all columns, exact equality —
stricter than any hash).

Usage: python tools/check.py [query_name ...]   (default: all)
       SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/check.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canonical_arrow_type(t) -> str:
    """Collapse an Arrow type to a driver-hash-relevant canonical class.

    The driver's value hash is TYPE-sensitive (the round-3/4
    ``pack_sequences`` red was DuckDB HUGEINT -> decimal128(38,0) vs Spark
    int64 with bit-identical values), so int vs decimal vs float must
    differ here.  String/large_string and timestamp-tz flavors are
    serialization details both engines normalize, so they collapse.
    """
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canonical_arrow_type(t.value_type)}>"
    if pa.types.is_map(t):
        return (
            f"map<{canonical_arrow_type(t.key_type)},"
            f"{canonical_arrow_type(t.item_type)}>"
        )
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{canonical_arrow_type(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def type_problems(spark_schema, oracle_arrow_schema) -> list[str]:
    """Type-strict column comparison: Spark schema (mapped to Arrow) vs
    the DuckDB result's Arrow schema, canonicalized per column."""
    from pyspark.sql.pandas.types import to_arrow_schema

    spark_arrow = to_arrow_schema(spark_schema)
    s_types = {f.name: canonical_arrow_type(f.type) for f in spark_arrow}
    o_types = {f.name: canonical_arrow_type(f.type) for f in oracle_arrow_schema}
    out = []
    for col in sorted(set(s_types) & set(o_types)):
        if s_types[col] != o_types[col]:
            out.append(
                f"col {col}: TYPE spark={s_types[col]} oracle={o_types[col]}"
            )
    return out


def non_canonicalizable_cols(spark_schema) -> list[str]:
    """Columns the DRIVER's canonicalizer cannot sort/hash.

    The driver does a raw pandas ``sort_values`` over all columns; a
    list/map/struct cell raises ``TypeError: unhashable type`` there
    (the bpe_tokenize r9 red). This gate keeps such schemas out of
    DECLARED rows entirely — EXTRA rows may still use them because the
    local ``normalize`` below stringifies containers before sorting.
    """
    from pyspark.sql import types as T

    return [
        f.name
        for f in spark_schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # map/list columns -> stable string repr for sorting
            df[c] = df[c].map(lambda v: str(sorted(v.items())) if isinstance(v, dict) else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"schema: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if problems:
        return problems
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c], o[c].astype(s[c].dtype, errors="ignore") if hasattr(o[c], "astype") else o[c]
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(np.asarray(ov).dtype, np.floating):
            a, b = np.asarray(sv, dtype=np.float64), np.asarray(ov, dtype=np.float64)
            both_nan = np.isnan(a) & np.isnan(b)
            # bit-level equality, mirroring the driver's value-hash:
            # -0.0 vs +0.0 must FAIL here even though -0.0 == 0.0
            eq = (a.view(np.int64) == b.view(np.int64)) | both_nan
            if not eq.all():
                bad = (~eq).sum()
                problems.append(
                    f"col {c}: {bad} float mismatches, max abs diff "
                    f"{np.nanmax(np.abs(a - b)):.3e}"
                )
        else:
            eq = (sv.to_numpy() == np.asarray(ov)) | (
                pd.isna(sv).to_numpy() & pd.isna(o[c]).to_numpy()
            )
            if not np.asarray(eq).all():
                bad = int((~np.asarray(eq)).sum())
                i = int(np.argmax(~np.asarray(eq)))
                problems.append(
                    f"col {c}: {bad} mismatches, first at row {i}: "
                    f"spark={sv.iloc[i]!r} oracle={o[c].iloc[i]!r}"
                )
    return problems


def main() -> int:
    import __spark_entry__ as se
    from chroma_rs_spark.session import get_spark

    args = [a for a in sys.argv[1:] if a != "--extra"]
    include_extra = "--extra" in sys.argv[1:]
    only = set(args)
    spark = get_spark(app_name="check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs, oracles = se.queries(), se.oracle_sql()
    declared = set(qs)
    if include_extra or (only and not only <= qs.keys()):
        # Rows outside suite.DECLARED get the same side-by-side
        # treatment locally.
        from chroma_rs_spark.suite import all_queries

        extra = {
            k: v for k, v in all_queries(include_extra=True).items() if k not in qs
        }
        qs = {**qs, **{k: v.fn for k, v in extra.items()}}
        oracles = {
            **oracles,
            **{k: v.oracle for k, v in extra.items() if v.oracle is not None},
        }
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spark_pdf = sdf.toPandas()
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        t_spark = time.time() - t0
        if name in declared:
            bad_cols = non_canonicalizable_cols(sdf.schema)
            if bad_cols:
                failed.append(name)
                print(
                    f"FAIL {name}: DECLARED row has non-driver-canonicalizable "
                    f"column(s) {bad_cols} (array/map/struct — the driver's "
                    f"raw sort_values dies on these; reshape or keep EXTRA)"
                )
                continue
        if name not in oracles:
            print(f"WEAK {name}: no oracle, rows={len(spark_pdf)} ({t_spark:.1f}s)")
            continue
        try:
            oracle_tbl = con.sql(oracles[name]).arrow()
            oracle_pdf = oracle_tbl.to_pandas()
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: oracle error: {e}")
            continue
        problems = type_problems(sdf.schema, oracle_tbl.schema)
        problems += compare(name, spark_pdf, oracle_pdf)
        if problems:
            failed.append(name)
            print(f"FAIL {name} ({t_spark:.1f}s):")
            for p in problems:
                print(f"   - {p}")
        else:
            print(f"OK   {name}: rows={len(spark_pdf)} ({t_spark:.1f}s)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
