"""Physical-plan invariants as a GATE, not just a report: the
properties tools/plan_audit.py documents in PLANS.md — zero unbounded
cartesian products anywhere, broadcasts where the design says
broadcast, parquet filter pushdown where the query filters the scan —
asserted on a spread of declared rows so a plan regression fails CI
instead of waiting for a human to diff PLANS.md.

Plan BUILD only (executedPlan on the sf0.001 tables): no query
executes, so the whole module is seconds. Iterative rows (whose fn()
runs jobs) are exercised by their correctness gates instead. The
collection-query plans at the end are built on a tiny collection;
only the index build and query()'s own driver-side lookups run jobs.
"""

from __future__ import annotations

import re

import pytest

SF001_DIR = "/root/testdata/sf0.001"

# non-iterative declared rows spanning every family
ROWS = [
    "knn_cosine",
    "lang_id",
    "tfidf_topk",
    "lm_perplexity",
    "gopher_quality",
    "gopher_repetition",
    "bigram_perplexity",
    "html_extract_text",
    "url_dedup",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "near_dup_bucketed",
    "line_dedup",
    "ngram_decontamination",
    "hybrid_search_rrf",
    "leakage_safe_split",
    "pricing_summary",
    "shipping_priority",
    "top_customers_per_nation",
    "order_window_frames",
    "asof_purchase_attribution",
    "events_session_windows",
]


def _plan(spark, name: str) -> str:
    from chroma_rs_spark.suite import all_queries

    qd = all_queries(include_extra=True)[name]
    return str(
        qd.fn(spark, SF001_DIR)._jdf.queryExecution().executedPlan()
    )


@pytest.mark.parametrize("name", ROWS)
def test_no_cartesian_product(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, (
        f"{name}: unbounded cartesian product entered the plan"
    )


def test_knn_scores_the_items_before_the_only_shuffle(spark):
    # the KNN design point: the tiny probe set rides in the scoring
    # closure and each Arrow batch keeps k candidates per probe, so the
    # collection never shuffles; the one exchange carries candidates
    plan = _plan(spark, "knn_cosine")
    assert plan.count("Exchange") == 1, plan
    assert plan.index("Exchange") < plan.index("MapInPandas"), plan
    # the item scan must not read columns the query never uses
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "embedding" in m.group(1)


def test_filter_pushdown_reaches_the_scan(spark):
    # a source-column filter must reach the parquet scan as a pushed
    # filter, not a post-scan Filter only
    from chroma_rs_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF001_DIR, "documents")
    plan = str(
        docs.filter(F.col("n_chars") > 200)
        .select("doc_id", "lang")
        ._jdf.queryExecution()
        .executedPlan()
    )
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(n_chars", plan), plan
    # and column pruning: the scan schema carries only what's needed
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), m.group(1) if m else plan


def test_small_dims_broadcast_in_relational_joins(spark):
    plan = _plan(spark, "top_customers_per_nation")
    assert "BroadcastExchange" in plan, "nation-side dim should broadcast"


@pytest.fixture(scope="module")
def ann_coll(spark, tmp_path_factory):
    """A cosine collection with persisted pq and ivfpq indexes and
    their codes materialized into the rows."""
    import numpy as np

    from chroma_rs_spark.catalog import Engine

    engine = Engine(spark, str(tmp_path_factory.mktemp("plans") / "wh"))
    c = engine.create_collection("plans", {"hnsw:space": "cosine"})
    vecs = np.random.default_rng(3).normal(size=(40, 8)).tolist()
    c.add(ids=[f"v{i:02d}" for i in range(40)], embeddings=vecs)
    c.build_pq_index(m=2, k=4, sample_size=40)
    c.materialize_pq_codes()
    c.build_ivfpq_index(n_centroids=4, max_iter=2, m=2, k=4, sample_size=40)
    c.materialize_ivfpq_codes()
    return c, vecs


def _query_plan(ann_coll, index: str) -> str:
    c, vecs = ann_coll
    df = c.query(vecs[:2], n_results=3, index=index)
    return str(df._jdf.queryExecution().executedPlan())


@pytest.mark.parametrize("index", ["exact", "pq", "ivfpq"])
def test_collection_query_rescore_broadcasts(ann_coll, index):
    # every index ends in the exact ranking, and the items are read
    # once under it: the numpy scorer (exact) or the ADC pool scorer
    # (pq/ivfpq) runs map-side on the one items scan, which never
    # shuffles before it (the probes ride in its closure). The pooled
    # plans read the codes from the rows: no codes-table scan, no id
    # join keeping codes fresh, and the pool reaches the rescore through
    # one single-partition window, not a semi-join back to the items
    plan = _query_plan(ann_coll, index)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    lines = plan.splitlines()
    # the topmost MapInPandas, the one emitting `distance`, ranks
    at = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    assert "distance#" in lines[at], lines[at]
    scans = [i for i in range(at, len(lines)) if "FileScan" in lines[i]]
    assert len(scans) == 1, [lines[i] for i in scans]
    assert "embedding" in lines[scans[0]], lines[scans[0]]
    assert "Join" not in "".join(lines[at : scans[0]]), lines[at : scans[0]]
    if index == "exact":
        assert not any("Exchange" in ln for ln in lines[at : scans[0]])
    else:
        assert f"_{index}:struct<gen:bigint" in lines[scans[0]], lines[scans[0]]
        pool = next(i for i in range(at + 1, scans[0]) if "MapInPandas" in lines[i])
        assert "adc_dist#" in lines[pool], lines[pool]
        exchanges = [ln for ln in lines[at:pool] if "Exchange" in ln]
        assert len(exchanges) == 1 and "SinglePartition" in exchanges[0], exchanges
        assert not any("Exchange" in ln for ln in lines[pool : scans[0]])


@pytest.mark.parametrize("index", ["exact", "pq", "ivfpq"])
def test_collection_query_broadcasts_the_ranking_into_includes(ann_coll, index):
    # the include columns join the bounded ranking to the corpus: the
    # ranking (its window) is the broadcast build side, the corpus
    # streams — broadcasting the corpus would become a sort-merge join
    # that shuffles every document at scale
    lines = _query_plan(ann_coll, index).splitlines()
    join = next(
        i for i, ln in enumerate(lines)
        if re.search(r"BroadcastHashJoin \[id#\d+\], \[id#\d+\], Inner, BuildRight", ln)
    )
    build = next(i for i in range(join, len(lines)) if "BroadcastExchange" in lines[i])
    window = next(i for i, ln in enumerate(lines) if "Window [row_number()" in ln)
    assert join < build < window, lines[join : window + 1]
    assert not any("LeftOuter" in ln for ln in lines)


@pytest.fixture(scope="module")
def upserted_coll(spark, tmp_path_factory):
    """A cosine collection with persisted pq and ivfpq indexes and
    their materialized codes, then an upsert: queries encode late rows."""
    import numpy as np

    from chroma_rs_spark.catalog import Engine

    engine = Engine(spark, str(tmp_path_factory.mktemp("plans") / "wh"))
    c = engine.create_collection("late", {"hnsw:space": "cosine"})
    vecs = np.random.default_rng(5).normal(size=(40, 8)).tolist()
    c.add(ids=[f"v{i:02d}" for i in range(40)], embeddings=vecs)
    c.build_pq_index(m=2, k=4, sample_size=40)
    c.materialize_pq_codes()
    c.build_ivfpq_index(n_centroids=4, max_iter=2, m=2, k=4, sample_size=40)
    c.materialize_ivfpq_codes()
    c.upsert(ids=["v03", "n00", "n01"], embeddings=vecs[10:13])
    return c, vecs


@pytest.mark.parametrize("index", ["exact", "pq", "ivfpq"])
def test_collection_query_plans_run_no_sql_lambda(upserted_coll, index):
    # the exact ranking and the late-row unit normalization run in the
    # numpy kernel: no interpreted higher-order-function lambda
    # evaluates per row anywhere in the plan
    plan = _query_plan(upserted_coll, index)
    assert "lambdafunction" not in plan, plan


def test_collection_ivfpq_prunes_code_cells_once(ann_coll):
    # the probed cells are computed once on the driver: they filter the
    # rows' stored cells in the scan stage, and no probe-cell window
    # (ordered by the centroid distance _cd) runs again inside the plan
    plan = _query_plan(ann_coll, "ivfpq")
    assert re.search(r"_ivfpq#\d+\.cell IN \(", plan), plan
    assert not re.search(r"Window \[.*_cd#", plan), plan
