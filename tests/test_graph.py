"""Connected components + dedup clustering (operators/graph.py).

Ground truth for the random-graph case is a DuckDB recursive-CTE
transitive closure — an independent engine computing the same labels.
"""

import duckdb
import pytest

from chroma_rs_spark.operators.graph import connected_components, dedup_clusters

from tests.conftest import SF001_DIR


def _cc(spark, edge_list, **kw):
    edges = spark.createDataFrame(edge_list, "src LONG, dst LONG")
    return {
        r["node"]: r["component"]
        for r in connected_components(edges, **kw).collect()
    }


def test_cc_path_graph_both_paths(spark):
    # a 12-node chain is the worst case for naive min-propagation;
    # large-star/small-star must still hit the fixpoint quickly
    chain = [(i, i + 1) for i in range(1, 12)]
    want = {i: 1 for i in range(1, 13)}
    assert _cc(spark, chain) == want  # local union-find path
    assert _cc(spark, chain, local_threshold=0) == want  # distributed stars


def test_cc_two_components_and_cycle(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_cc_duplicate_and_reversed_edges(spark):
    for kw in ({}, {"local_threshold": 0}):
        got = _cc(spark, [(2, 1), (1, 2), (2, 3), (3, 2), (3, 3)], **kw)
        assert got == {1: 1, 2: 1, 3: 1}


def test_cc_matches_duckdb_closure_on_random_graph(spark):
    # deterministic pseudo-random sparse graph over 200 nodes
    edge_list = []
    x = 1
    for _ in range(150):
        x = (x * 48271) % 2147483647
        a = x % 200
        x = (x * 48271) % 2147483647
        b = x % 200
        if a != b:
            edge_list.append((a, b))
    # distributed star path (threshold 0) — the 100 TB code path
    got = _cc(spark, edge_list, local_threshold=0)
    assert got == _cc(spark, edge_list)  # both paths agree

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE edges(u BIGINT, v BIGINT)"
    )
    con.executemany("INSERT INTO edges VALUES (?, ?)", edge_list)
    want = {
        int(r[0]): int(r[1])
        for r in con.sql(
            """
            WITH RECURSIVE sym AS (
              SELECT u, v FROM edges UNION SELECT v, u FROM edges
            ),
            reach(node, lbl) AS (
              SELECT u, u FROM sym
              UNION
              SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.node
            )
            SELECT node, MIN(lbl) FROM reach GROUP BY node
            """
        ).fetchall()
    }
    assert got == want


def test_dedup_clusters_partitions_docs(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id LONG"
    )
    pairs = spark.createDataFrame(
        [
            (1, 2, 1.0),
            (2, 3, 0.75),
            (5, 6, 0.5),
            (4, 7, 0.25),  # below threshold: both stay singletons
        ],
        "id_a LONG, id_b LONG, est_jaccard DOUBLE",
    )
    rows = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["keep"])
        for r in dedup_clusters(docs, pairs, threshold=0.5).collect()
    }
    assert rows == {
        1: (1, 3, True),
        2: (1, 3, False),
        3: (1, 3, False),
        4: (4, 1, True),
        5: (5, 2, True),
        6: (5, 2, False),
        7: (7, 1, True),
    }
    # exactly one keeper per cluster, every doc labeled
    assert len(rows) == 7


def test_dedup_clusters_suite_query_matches_oracle(spark):
    """Full pipeline (LSH pairs -> CC -> keepers) vs the DuckDB
    recursive-closure oracle on real sf0.001 documents."""
    from chroma_rs_spark.suite.pipeline import (
        _DEDUP_CLUSTERS_ORACLE,
        q_dedup_clusters,
    )

    got = sorted(
        (r["doc_id"], r["cluster_id"], r["cluster_size"], r["keep"])
        for r in q_dedup_clusters(spark, SF001_DIR).collect()
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF001_DIR}/documents.parquet')"
    )
    want = sorted(
        (int(a), int(b), int(c), bool(d))
        for a, b, c, d in con.sql(_DEDUP_CLUSTERS_ORACLE).fetchall()
    )
    assert got == want
    # sanity: clustering actually merged something on real data
    assert any(size > 1 for _, _, size, _ in got)


def test_cc_self_loop_only_node_consistent_across_paths(spark):
    # a node whose only edges are self-loops is isolated on BOTH paths
    edges = [(7, 7), (1, 2)]
    assert _cc(spark, edges) == {1: 1, 2: 1}
    assert _cc(spark, edges, local_threshold=0) == {1: 1, 2: 1}


def test_lazy_local_cc_matches_adaptive(spark):
    """_cc_local_lazy (lazy single-task union-find) produces the same
    labels and sizes as the distributed star fixpoint."""
    import random

    from pyspark.sql import functions as F

    from chroma_rs_spark.operators.graph import (
        _cc_local_lazy,
        connected_components,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    distributed = {
        (r["node"], r["component"], r["component_size"])
        for r in connected_components(
            df, local_threshold=0, with_sizes=True
        ).collect()
    }
    lazy = {
        (r["node"], r["component"], r["component_size"])
        for r in _cc_local_lazy(
            df.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            with_sizes=True,
        ).collect()
    }
    assert lazy == distributed and len(lazy) > 0


def test_dedup_keep_best_picks_highest_score(spark):
    from chroma_rs_spark.operators.graph import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 70), (10, 40), (11, 40), (20, None), (30, 5)],
        "doc_id long, n_chars long",
    )
    # clusters: {1,2,3} (2 wins on score), {10,11} (tie -> min id 10),
    # {20} and {30} singletons keep themselves
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 0.8), (1, 3, 0.2)],
        "id_a long, id_b long, est_jaccard double",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_keep_best(
            docs, pairs, score_col="n_chars", threshold=0.5, lazy_local=True
        ).collect()
    }
    assert [d for d, r in out.items() if r["keep"] and r["cluster_id"] == 1] == [2]
    assert out[2]["cluster_size"] == 3 and out[2]["n_chars"] == 90
    assert out[10]["keep"] and not out[11]["keep"]     # tie -> lowest id
    assert out[20]["keep"] and out[30]["keep"]         # singletons
    # the sub-threshold (1,3) pair must not merge anything by itself
    assert out[30]["cluster_id"] == 30


def test_dedup_keep_best_all_null_scores_fall_back_to_min_id(spark):
    from chroma_rs_spark.operators.graph import dedup_keep_best

    docs = spark.createDataFrame(
        [(5, None), (6, None), (7, 1)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame(
        [(5, 6, 0.9)], "id_a long, id_b long, est_jaccard double"
    )
    out = {
        r["doc_id"]: r
        for r in dedup_keep_best(
            docs, pairs, score_col="n_chars", lazy_local=True
        ).collect()
    }
    assert out[5]["keep"] and not out[6]["keep"]
    assert out[7]["keep"]


def test_dedup_clusters_string_ids_fail_loudly(spark):
    """Non-integral ids must raise at plan-build (ADVICE r7): the
    union-find kernels emit `node LONG`, so a string id would
    otherwise die mid-job with an opaque ANSI cast error — or, worse,
    silently NULL the keep column in dedup_keep_best's old
    unary-minus tie-break."""
    import pytest

    from chroma_rs_spark.operators.graph import (
        dedup_clusters,
        dedup_keep_best,
        pair_graph_components,
    )

    docs = spark.createDataFrame(
        [("a", 10), ("b", 90)], "doc_id string, n_chars long"
    )
    pairs = spark.createDataFrame(
        [("a", "b", 0.9)], "id_a string, id_b string, est_jaccard double"
    )
    with pytest.raises(TypeError, match="integral"):
        dedup_clusters(docs, pairs, lazy_local=True)
    with pytest.raises(TypeError, match="integral"):
        dedup_keep_best(docs, pairs, score_col="n_chars", lazy_local=True)
    with pytest.raises(TypeError, match="integral"):
        pair_graph_components(pairs, threshold=0.5)
