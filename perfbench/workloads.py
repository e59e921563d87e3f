"""The benchmark workloads, driven by one closed-loop client: each call
into the engine is issued only after the previous one returned.

Each workload has a ``setup`` (seeded inputs written to parquet, then
first touch through ``sources.tables.load_table``), a ``reference``
computed outside every timed interval, and a ``run`` that times calls
until the run's seconds are spent and checks every answer against the
reference between timed intervals.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from inputs import document_texts, vector_inputs, write_documents, write_embeddings
from spans import Tracer

K = 10  # n_results of every query
MUTATE_BATCH = 64
MAX_REPEATS = 8  # cap on rounds / warm runs; sizes the upsert pool
CURATE_SKIP = frozenset({"c4_filters", "gopher_quality", "gopher_repetition"})
DIST_TOL = 1e-5


@dataclass(frozen=True)
class Sizes:
    vectors: int
    base_docs: int
    replicas: int
    min_rounds: int
    min_warm_runs: int


FULL = Sizes(vectors=2000, base_docs=500, replicas=10, min_rounds=2, min_warm_runs=2)
TINY = Sizes(vectors=512, base_docs=50, replicas=10, min_rounds=1, min_warm_runs=1)


@dataclass
class Run:
    """State of one benchmark run: the session, the tracer, the op
    tally and the wall of every timed interval."""

    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    sizes: Sizes
    recall_floor: float
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    intervals: list[tuple[float, float]] = field(default_factory=list)
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
    # checked answers, written out with the spans (smoke tests compare them)
    outputs: dict[str, object] = field(default_factory=dict)

    @property
    def timed_s(self) -> float:
        return sum(b - a for a, b in self.intervals)

    @contextmanager
    def timed(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.intervals.append((t0, time.perf_counter()))

    def ops(self, n: int, ok: bool = True, what: str = "") -> None:
        """Count `n` ops; a failed check fails one of them."""
        self.attempted += n
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def span(self, name: str, phase: str | None = None):
        return self.tracer.span(name, phase)


# -- vector_batch ------------------------------------------------------


class VectorBatch:
    """Index build, then rounds of exact query, ivfpq query, upsert and
    delete on a cosine collection."""

    name = "vector_batch"
    table = "embeddings"

    def setup(self, run: Run, data_dir: str):
        from chroma_rs_spark.sources.tables import load_table

        with run.span("sources.generate"):
            inp = vector_inputs(
                run.seed, run.sizes.vectors, n_extra=MAX_REPEATS * MUTATE_BATCH
            )
            write_embeddings(inp, data_dir)
        with run.span("sources.load_table"):
            emb = load_table(run.spark, data_dir, self.table)
            emb.count()
        return inp, emb

    def reference(self, run: Run, data_dir: str, state):
        return None  # the numpy model is kept in step inside run()

    def run(self, run: Run, state, _reference) -> list[float]:
        from pyspark.sql import functions as F

        from chroma_rs_spark.catalog import Engine

        inp, emb = state
        engine = Engine(run.spark, os.path.join(run.work, "warehouse"))
        items = emb.select(F.col("vec_id").cast("string").alias("id"), "embedding")
        model = _Model([str(i) for i in inp.ids], inp.vectors)
        probes = [[float(x) for x in p] for p in inp.probes]

        with run.timed():
            with run.span("catalog.create_collection", "build"):
                coll = engine.create_collection(
                    "bench", metadata={"hnsw:space": "cosine"}
                )
            with run.span("collection.add_df", "build"):
                coll.add_df(items)
            with run.span("collection.build_ivfpq_index", "build"):
                coll.build_ivfpq_index()
            with run.span("collection.materialize_ivfpq_codes", "build"):
                coll.materialize_ivfpq_codes()
        build_s = run.intervals[-1][1] - run.intervals[-1][0]
        n = coll.count()
        run.ops(4, n == len(model), f"count after build {n} != {len(model)}")

        rounds: list[float] = []
        recalls: list[float] = []
        exact_s, ivfpq_s, mutate_s = [], [], []
        deleted = 0
        while len(rounds) < MAX_REPEATS and (
            len(rounds) < run.sizes.min_rounds or run.timed_s < run.seconds
        ):
            r = len(rounds)
            new_ids = [f"u{r}_{i}" for i in range(MUTATE_BATCH)]
            new_vecs = inp.extra[r * MUTATE_BATCH : (r + 1) * MUTATE_BATCH]
            new_list = [[float(x) for x in v] for v in new_vecs]
            gone = [str(i) for i in inp.delete_order[deleted : deleted + MUTATE_BATCH]]
            deleted += MUTATE_BATCH
            with run.timed():
                with run.span("collection.query_exact", f"query#{r}") as s_exact:
                    with run.span("collection.query_exact.plan"):
                        df = coll.query(query_embeddings=probes, n_results=K)
                    with run.span("collection.query_exact.exec"):
                        exact = df.collect()
                with run.span("collection.query_ivfpq", f"query#{r}") as s_ivf:
                    with run.span("collection.query_ivfpq.plan"):
                        df = coll.query(
                            query_embeddings=probes, n_results=K, index="ivfpq"
                        )
                    with run.span("collection.query_ivfpq.exec"):
                        approx = df.collect()
                with run.span("collection.upsert", f"mutate#{r}") as s_up:
                    coll.upsert(new_ids, embeddings=new_list)
                with run.span("collection.delete", f"mutate#{r}") as s_del:
                    coll.delete(ids=gone)
            a, b = run.intervals[-1]
            rounds.append(b - a)
            exact_s.append(s_exact.seconds)
            ivfpq_s.append(s_ivf.seconds)
            mutate_s.append(s_up.seconds + s_del.seconds)

            problem = model.check_exact(exact, inp.probes)
            run.ops(1, problem is None, f"round {r} exact: {problem}")
            exact_ids = _top_ids(exact)
            approx_ids = _top_ids(approx)
            recalls.extend(
                len(set(exact_ids.get(q, ())) & set(approx_ids.get(q, ()))) / K
                for q in range(len(probes))
            )
            run.ops(1)  # the ivfpq query; its recall is gated below
            model.upsert(new_ids, new_vecs)
            model.delete(gone)
            n = coll.count()
            run.ops(2, n == len(model), f"round {r} count {n} != {len(model)}")

        recall = float(np.mean(recalls))
        run.outputs["recalls"] = recalls
        if recall < run.recall_floor:
            run.failed += 1
            run.failures.append(f"recall_at_10 {recall:.4f} < {run.recall_floor}")
        run.detail.update(
            {
                "index_build_s": (build_s, "s"),
                "query_exact_s": (statistics.median(exact_s), "s"),
                "query_ivfpq_s": (statistics.median(ivfpq_s), "s"),
                "mutate_s": (statistics.median(mutate_s), "s"),
                "recall_at_10": (recall, "ratio"),
                "rounds": (len(rounds), "count"),
            }
        )
        return rounds


class _Model:
    """The collection's expected contents: ids and float64 unit rows of
    the float32 vectors the engine stores."""

    def __init__(self, ids: list[str], vectors: np.ndarray) -> None:
        self.ids = list(ids)
        self.unit = _unit(vectors)

    def __len__(self) -> int:
        return len(self.ids)

    def upsert(self, ids: list[str], vectors: np.ndarray) -> None:
        self.ids.extend(ids)
        self.unit = np.vstack([self.unit, _unit(vectors)])

    def delete(self, ids: list[str]) -> None:
        gone = set(ids)
        keep = [i for i, x in enumerate(self.ids) if x not in gone]
        self.ids = [self.ids[i] for i in keep]
        self.unit = self.unit[keep]

    def check_exact(self, rows, probes: np.ndarray) -> str | None:
        """None when every probe's K results are a true top-K under
        float64 brute-force cosine distance (ties at the K-th distance
        may resolve either way), else what is wrong."""
        dist = 1.0 - _unit(probes) @ self.unit.T
        pos = {x: i for i, x in enumerate(self.ids)}
        got: dict[int, list[tuple[int, str, float]]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append(
                (int(r["rank"]), r["id"], float(r["distance"]))
            )
        for q in range(len(probes)):
            res = sorted(got.get(q, []))
            if len(res) != K:
                return f"probe {q}: {len(res)} results"
            kth = np.partition(dist[q], K - 1)[K - 1]
            for _, item, d in res:
                if item not in pos:
                    return f"probe {q}: unknown id {item}"
                ref = dist[q, pos[item]]
                if abs(ref - d) > DIST_TOL or ref > kth + DIST_TOL:
                    return f"probe {q}: id {item} at {d}, reference {ref}, k-th {kth}"
        return None


def _unit(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.float64)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _top_ids(rows) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(r["id"])
    return out


# -- curate_batch ------------------------------------------------------


class CurateBatch:
    """`curate_corpus` as the `curate_report` suite row runs it, plus
    the report collect and the corpus write a batch job pays."""

    name = "curate_batch"
    table = "documents"

    def setup(self, run: Run, data_dir: str):
        from chroma_rs_spark.sources.tables import load_table

        with run.span("sources.generate"):
            texts = document_texts(run.seed, run.sizes.base_docs, run.sizes.replicas)
            write_documents(texts, data_dir)
        with run.span("sources.load_table"):
            docs = load_table(run.spark, data_dir, self.table).select("doc_id", "text")
            docs.count()
        return docs

    def reference(self, run: Run, data_dir: str, state) -> list[tuple]:
        """The attrition ledger of the DuckDB replay of the pipeline."""
        import duckdb

        from chroma_rs_spark.suite.pipeline import _curate_report_oracle

        path = os.path.join(data_dir, f"{self.table}.parquet")
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            rows = con.execute(_curate_report_oracle()).fetchall()
        finally:
            con.close()
        return sorted((int(a), str(b), int(c), int(d)) for a, b, c, d in rows)

    def run(self, run: Run, docs, ledger: list[tuple]) -> list[float]:
        from chroma_rs_spark.curate import curate_corpus

        out_dir = os.path.join(run.work, "curated")
        walls: list[float] = []
        while len(walls) < 1 + MAX_REPEATS and (
            len(walls) < 1 + run.sizes.min_warm_runs or run.timed_s < run.seconds
        ):
            phase = "curate_cold" if not walls else f"curate_warm#{len(walls)}"
            with run.timed():
                with run.span("curate.run", phase):
                    with run.span("curate.corpus_call"):
                        corpus, report = curate_corpus(docs, skip=CURATE_SKIP)
                    with run.span("curate.report"):
                        rows = report.collect()
                    with run.span("curate.write"):
                        corpus.write.mode("overwrite").parquet(out_dir)
            a, b = run.intervals[-1]
            walls.append(b - a)
            got = sorted(
                (int(r["stage_no"]), r["stage"], int(r["n_docs"]), int(r["n_tokens"]))
                for r in rows
            )
            written = run.spark.read.parquet(out_dir).count()
            ok = got == ledger and written == ledger[-1][2]
            run.ops(1, ok, f"curate run {len(walls)}: ledger {got} written {written}")
            run.outputs["ledger"] = got

        run.detail.update(
            {
                "curate_cold_s": (walls[0], "s"),
                "curate_warm_s": (statistics.median(walls[1:]), "s"),
                "curate_runs": (len(walls), "count"),
                "docs": (float(ledger[0][2]), "count"),
                "docs_kept": (float(ledger[-1][2]), "count"),
            }
        )
        return walls[1:]


WORKLOADS = {w.name: w for w in (VectorBatch(), CurateBatch())}
