"""Driver-side rows enter Spark through one helper, `session.local_frame`.

It hands the JVM one Arrow table, which plans as a `LocalTableScan`;
`createDataFrame(list)` pickled the rows into a `PythonRDD`
(`Scan ExistingRDD`) that every action re-read through Python workers.
These tests pin that the helper stores what `createDataFrame(list)`
stored, bit for bit, keeps its checks, and stays the only way in.
"""

from __future__ import annotations

import ast
import math
import os
import struct

import pytest

from chroma_rs_spark.collection import ITEM_SCHEMA
from chroma_rs_spark.session import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "chroma_rs_spark")


def _f32(x: float) -> float:
    return struct.unpack("<f", struct.pack("<f", x))[0]


# float32 subnormals: the smallest one, one mid-range, the largest, and
# two doubles that round to them (and to zero) on the way to FLOAT
SUBNORMALS = [
    _f32(1.401298464324817e-45),
    _f32(3e-40),
    _f32(1.1754942e-38),
    1e-45,
    5e-324,
]


def _rows():
    nan, inf = float("nan"), float("inf")
    return [
        ("plain", [1.0, -2.5, 0.1], None, "doc", {"k": "v"}),
        ("special", [nan, inf, -inf, -0.0, 0.0, 1e39, -1e39], None, None, None),
        ("subnormal", SUBNORMALS, None, "", {}),
        ("null-emb", None, None, "only a document", {"b": "2", "a": "1"}),
        ("ünïcødé-ид-😀", [3.4028235e38, -3.4028235e38], None, "ß", {"ключ": "значение"}),
    ]


def _canon(rows):
    def hx(v):
        return None if v is None else float(v).hex()

    return sorted(
        (
            r["id"],
            None if r["embedding"] is None else [hx(x) for x in r["embedding"]],
            hx(r["embedding_norm"]),
            r["document"],
            None if r["metadata"] is None else sorted(r["metadata"].items()),
        )
        for r in rows
    )


def test_local_frame_matches_create_dataframe_bit_for_bit(spark):
    rows = _rows()
    want = spark.createDataFrame(rows, ITEM_SCHEMA)
    got = local_frame(spark, rows, ITEM_SCHEMA)
    assert got.schema == want.schema
    assert _canon(got.collect()) == _canon(want.collect())
    special = [r for r in got.collect() if r["id"] == "special"][0]["embedding"]
    assert math.isnan(special[0]) and special[1:3] == [math.inf, -math.inf]
    assert math.copysign(1.0, special[3]) == -1.0  # -0.0 kept
    assert special[5:] == [math.inf, -math.inf]  # 1e39 rounds to inf
    meta = {r["id"]: r["metadata"] for r in got.collect()}
    assert meta["subnormal"] == {} and meta["special"] is None
    # map entries are stored in the caller's dict order (collect()
    # hands maps back as dicts; map_keys shows the stored order)
    keys = got.filter("id = 'null-emb'").selectExpr("map_keys(metadata)").first()[0]
    assert keys == ["b", "a"]


def test_local_frame_empty_batch(spark):
    want = spark.createDataFrame([], ITEM_SCHEMA)
    got = local_frame(spark, [], ITEM_SCHEMA)
    assert got.schema == want.schema and got.collect() == []
    ddl = local_frame(spark, [], "a long, `b c` string")
    assert ddl.schema == spark.createDataFrame([], "a long, `b c` string").schema
    assert "LocalTableScan" in ddl._jdf.queryExecution().executedPlan().toString()


def test_local_frame_keeps_create_dataframe_checks(spark):
    with pytest.raises(Exception, match="non-nullable"):
        local_frame(spark, [(None, [1.0], None, None, None)], ITEM_SCHEMA).collect()
    with pytest.raises(Exception, match="float"):
        local_frame(spark, [("x", ["s"], None, None, None)], ITEM_SCHEMA)
    with pytest.raises(Exception, match="double"):
        local_frame(spark, [("x", None, "n", None, None)], ITEM_SCHEMA)
    with pytest.raises(Exception, match="int"):
        local_frame(spark, [("one",)], "a int")
    # Arrow alone would truncate 1.5 to 1
    with pytest.raises(TypeError, match="integer field a"):
        local_frame(spark, [(1,), (1.5,)], "a long")
    with pytest.raises(ValueError, match="fields"):
        local_frame(spark, [("x", None)], ITEM_SCHEMA)


def test_mutation_rows_plan_as_local_table_scan(engine, monkeypatch):
    """add/upsert/update rows reach the write as a LocalTableScan; no
    plan they run scans a Python RDD."""
    from pyspark.sql.readwriter import DataFrameWriter

    from chroma_rs_spark import collection

    plans = []
    items_from_args = collection._items_from_args
    parquet = DataFrameWriter.parquet

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def new_rows(*args, **kwargs):
        df = items_from_args(*args, **kwargs)
        plans.append(("rows", plan(df)))
        return df

    def write(self, path, *args, **kwargs):
        plans.append(("write", plan(self._df)))
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(collection, "_items_from_args", new_rows)
    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    c = engine.create_collection("local_rows")
    c.add(ids=["a", "b"], embeddings=[[1.0, 0.0], [0.0, 1.0]])
    c.upsert(ids=["b", "c"], embeddings=[[1.0, 1.0], [2.0, 0.0]])
    c.update(ids=["a"], documents=["patched"])
    assert [k for k, _ in plans] == ["rows", "write"] * 3
    for kind, p in plans:
        assert "ExistingRDD" not in p, p
        if kind == "rows":
            assert "LocalTableScan" in p, p
    rows = c.get(include=["embeddings", "documents"]).collect()
    got = {r["id"]: (r["embedding"], r["document"]) for r in rows}
    assert got == {
        "a": ([1.0, 0.0], "patched"),
        "b": ([1.0, 1.0], None),
        "c": ([2.0, 0.0], None),
    }


def _driver_row_calls():
    """`file:line` of every createDataFrame / parallelize call in the
    package outside `session.local_frame`."""
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            allowed = set()
            if path == os.path.join(PKG, "session.py"):
                for node in ast.walk(tree):
                    if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                        allowed = {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("createDataFrame", "parallelize")
                    and id(node) not in allowed
                ):
                    rel = os.path.relpath(path, os.path.dirname(PKG))
                    hits.append(f"{rel}:{node.lineno}")
    return hits


def test_local_frame_is_the_only_driver_row_entry():
    hits = _driver_row_calls()
    assert not hits, (
        "driver-side rows must enter Spark through session.local_frame: "
        + ", ".join(hits)
    )
