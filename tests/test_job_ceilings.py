"""Job-count ceilings for the fused iterative loops (VERDICT r9 #7).

The round-9 fusion collapsed the Lloyd's k-means driver loop to ONE
aggregation job per iteration (semantic_dedup 47 → 12 jobs,
knn_ivf_trained 34 → 2, bit-identical results). These gates pin the
win: if a future edit re-splits an iteration into per-step jobs, the
count jumps back toward the pre-fusion numbers and fails here instead
of waiting for a bench diff.

Counts are measured with the same job-group accounting bench.py uses
(chroma_rs_spark/jobcount.py) at sf0.001 — job counts for these rows
are data-size-independent by construction (measured equal at sf0.01
and sf0.1, SCALE.md r9), so the smallest corpus is the honest gate.

Ceilings sit a small slack above today's measurements (warm 12/2, cold
30/17 at sf0.001) and far below the pre-fusion 47/34: they catch a
de-fusion regression, not host jitter. The cold pass includes
training-cache build (k-dependent for semantic_dedup: one fused job
per Lloyd's iteration plus bounded setup).
"""

from __future__ import annotations

SF001_DIR = "/root/testdata/sf0.001"


def _jobs(spark, name: str) -> tuple[int, int]:
    from chroma_rs_spark.jobcount import count_jobs_stages
    from chroma_rs_spark.suite import all_queries

    fn = all_queries(include_extra=True)[name].fn
    cold, _, _ = count_jobs_stages(
        spark,
        lambda: fn(spark, SF001_DIR).write.format("noop").mode("overwrite").save(),
    )
    warm, _, _ = count_jobs_stages(
        spark,
        lambda: fn(spark, SF001_DIR).write.format("noop").mode("overwrite").save(),
    )
    return cold, warm


def test_semantic_dedup_job_ceiling(spark):
    cold, warm = _jobs(spark, "semantic_dedup")
    # warm path: assignment + keeper selection over cached centroids
    assert warm <= 16, f"semantic_dedup warm de-fused: {warm} jobs (was 12)"
    # cold adds the fused Lloyd's loop: ~1 job/iteration + setup
    assert cold <= 40, f"semantic_dedup cold de-fused: {cold} jobs (was 30)"


def test_knn_ivf_trained_job_ceiling(spark):
    cold, warm = _jobs(spark, "knn_ivf_trained")
    assert warm <= 4, f"knn_ivf_trained warm de-fused: {warm} jobs (was 2)"
    assert cold <= 24, f"knn_ivf_trained cold de-fused: {cold} jobs (was 17)"


def _ceiling_collection(spark, tmp_path):
    """120 seeded 16-dim vectors in a cosine collection."""
    import numpy as np

    from chroma_rs_spark.catalog import Engine

    engine = Engine(spark, str(tmp_path / "wh"))
    c = engine.create_collection("ceiling", {"hnsw:space": "cosine"})
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(120, 16)).tolist()
    c.add(ids=[f"v{i:03d}" for i in range(120)], embeddings=vecs)
    return c, vecs, rng


def _build_ceiling_index(c):
    c.build_ivfpq_index(n_centroids=4, max_iter=2, m=4, k=8, sample_size=120)


def test_collection_ivfpq_build_job_ceiling(spark, tmp_path):
    """The IVF-PQ build trains from one collected md5 sample with numpy
    Lloyd's, so it runs the sample collect and the two table writes;
    materializing the codes is one Arrow encode write. Before the
    numpy trainer the build ran one SQL job per Lloyd's iteration, two
    sample checkpoints and two sample collects (12 jobs on the
    perfbench vector_batch build)."""
    from chroma_rs_spark.jobcount import count_jobs_stages

    c, _vecs, _rng = _ceiling_collection(spark, tmp_path)
    build, _, _ = count_jobs_stages(spark, lambda: _build_ceiling_index(c))
    materialize, _, _ = count_jobs_stages(spark, c.materialize_ivfpq_codes)
    assert build <= 4, f"build_ivfpq_index ran {build} jobs (ceiling 4)"
    assert materialize <= 3, (
        f"materialize_ivfpq_codes ran {materialize} jobs (ceiling 3)"
    )


def _warm_query_jobs(spark, tmp_path, index: str) -> tuple[int, int]:
    """(plan, plan + collect) jobs of a warm `query(index=...)` on a
    built, materialized index after an upsert (late rows to encode)."""
    from chroma_rs_spark.jobcount import count_jobs_stages

    c, vecs, rng = _ceiling_collection(spark, tmp_path)
    if index == "ivfpq":
        _build_ceiling_index(c)
        c.materialize_ivfpq_codes()
    else:
        c.build_pq_index(m=4, k=8, sample_size=120)
        c.materialize_pq_codes()
    c.upsert(
        ids=[f"u{i}" for i in range(8)],
        embeddings=rng.normal(size=(8, 16)).tolist(),
    )

    def query():
        return c.query(vecs[:4], n_results=5, index=index)

    query().collect()  # warm: the index memo and the JVM
    plan, _, df = count_jobs_stages(spark, query)
    total, _, rows = count_jobs_stages(spark, df.collect)
    assert len(rows) == 20
    return plan, plan + total


def test_collection_ivfpq_warm_query_job_ceiling(spark, tmp_path):
    """The loaded index is memoized and the probe cells are picked on
    the driver, so building a warm ivfpq query runs no job. The rows
    carry their codes, so one scan feeds the ADC pool and its exact
    rescore, the late rows encoded on the fly inside it: measured 0
    plan + 4 collect jobs (the broadcast ranking with its
    single-partition pool shuffle, the include join and the final
    sort). Before codes moved into the rows this fixture ran 10
    collect jobs: a codes-table scan, three freshness id broadcasts,
    the pool window and its broadcast semi-join, then the exact
    rescore's own scan of the items; before the numpy IVF-PQ search
    it ran 7 plan jobs and 18 collect jobs."""
    plan, total = _warm_query_jobs(spark, tmp_path, "ivfpq")
    assert plan == 0, f"warm ivfpq query planning ran {plan} jobs (was 0)"
    assert total <= 4, f"warm ivfpq query de-fused: {total} jobs (ceiling 4)"


def test_collection_pq_warm_query_job_ceiling(spark, tmp_path):
    """The pq query runs the same one-scan pooled plan as ivfpq:
    measured 0 plan + 4 collect jobs (10 with a separate codes table)."""
    plan, total = _warm_query_jobs(spark, tmp_path, "pq")
    assert plan == 0, f"warm pq query planning ran {plan} jobs (was 0)"
    assert total <= 4, f"warm pq query de-fused: {total} jobs (ceiling 4)"


def test_collection_upsert_and_exact_query_job_ceilings(spark, tmp_path):
    """A 64-row list upsert checks the embedding dim on the driver, so
    it runs only the overwrite: measured 2 jobs, the broadcast of the
    new ids and the write (4 when the dim check ran a Spark distinct
    and collect). The new rows enter as an Arrow LocalRelation
    (`session.local_frame`), so neither job waits on a Python worker:
    the perfbench vector_batch `mutate_s` (upsert + delete of 64 rows)
    fell from 1.29 to 0.65 s median over seeds 321-330 on a 4-CPU
    host, where a
    pickled `createDataFrame(list)` made both jobs re-read the rows
    through Python workers. The exact query scores each
    partition in one Arrow pass and broadcasts the ranking into the
    include join, then sorts the bounded result in one partition (no
    range-sampling job): plan plus collect measured 0 + 4 jobs (5 with
    a range-partitioned orderBy, 6 with the broadcast cross-join
    ranking)."""
    from chroma_rs_spark.jobcount import count_jobs_stages

    c, vecs, rng = _ceiling_collection(spark, tmp_path)
    upsert, _, _ = count_jobs_stages(
        spark,
        lambda: c.upsert(
            ids=[f"u{i:02d}" for i in range(32)] + [f"v{i:03d}" for i in range(32)],
            embeddings=rng.normal(size=(64, 16)).tolist(),
        ),
    )
    assert upsert <= 2, f"64-row upsert ran {upsert} jobs (ceiling 2)"

    def query():
        return c.query(vecs[:4], n_results=5)

    query().collect()  # warm the JVM
    plan, _, df = count_jobs_stages(spark, query)
    total, _, rows = count_jobs_stages(spark, df.collect)
    assert len(rows) == 20
    assert plan + total <= 4, f"exact query ran {plan + total} jobs (ceiling 4)"


def test_collection_query_diverse_job_ceiling(spark, tmp_path):
    """query_diverse takes its MMR pool from the exact scorer in one
    scan of the items and collects it once with its vectors; the
    pairwise distances and the greedy picks run on the driver:
    measured 2 plan jobs (the pool collect) + 3 collect jobs (the
    ranking broadcast into the include join, the single-partition
    sort). Before, it ran 8 + 3 jobs: the SQL pool, its join back to
    the vectors and a pairwise self-join scored the whole collection
    once per collect."""
    from chroma_rs_spark.jobcount import count_jobs_stages

    c, vecs, _rng = _ceiling_collection(spark, tmp_path)

    def query():
        return c.query_diverse(vecs[:8], n_results=10)

    query().collect()  # warm the JVM
    plan, _, df = count_jobs_stages(spark, query)
    total, _, rows = count_jobs_stages(spark, df.collect)
    assert len(rows) == 80
    assert plan + total <= 5, f"query_diverse ran {plan + total} jobs (ceiling 5)"
