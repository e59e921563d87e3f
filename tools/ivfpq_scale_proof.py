#!/usr/bin/env python
"""Round-12 IVF-PQ at-scale proof (VERDICT r11 next-round #6): the
curate recipe got its 100x stress run in round 11; this gives the
index family the same treatment.

Builds the composite IVF-PQ index through the PRODUCTION collection
path on a ~100x corpus (409,600 clustered 64-dim vectors — 100x the
recall ladder's 4,096), materializes the codes into the rows, and
records:

  * build wall (train + encode + persist, the one-time index cost);
  * code bytes — the compressed size of the rows' `_ivfpq` column
    chunks (parquet footers) against the raw data bytes;
  * the executed plan's scan-stage filter on the stored cell
    (`_ivfpq.cell IN (...)`) at the full cell count: rows of
    unprobed cells never reach the ADC scorer;
  * recall@10 vs the exact cosine path on the same corpus;
  * warm query wall through query(index="ivfpq").

Deterministic via a fixed numpy seed (no SQL oracle here — this is a
scale proof, not a correctness row; bit-level correctness is carried
by the ivfpq_topk/ivfpq_recall driver rows and tests).

Usage: python tools/ivfpq_scale_proof.py [N]   (default 409600)
Prints one JSON line per measurement; paste the summary into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
K_TRUE = 16
NOISE = 0.4
TOP_K = 10
N_QUERIES = 16
N_CELLS = 64
N_PROBE = 4
M = 8
K_CODES = 16


def _dir_bytes(path: str) -> int:
    total = 0
    for r, _d, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(r, f))
    return total


def _column_bytes(path: str, column: str) -> int:
    """Compressed bytes of `column`'s chunks in the parquet files under
    `path`, from the file footers."""
    import pyarrow.parquet as pq

    total = 0
    for r, _d, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(r, f)).metadata
            for g in range(meta.num_row_groups):
                group = meta.row_group(g)
                for ci in range(group.num_columns):
                    chunk = group.column(ci)
                    if chunk.path_in_schema.split(".")[0] == column:
                        total += chunk.total_compressed_size
    return total


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 409_600
    import numpy as np

    from chroma_rs_spark.catalog import Engine
    from chroma_rs_spark.session import get_spark

    spark = get_spark(app_name="ivfpq_scale_proof")
    spark.sparkContext.setLogLevel("ERROR")

    # distributed corpus generation: per-partition numpy, seeded by
    # partition id — 409k rows never sit on the driver
    n_parts = 32
    per = (n + n_parts - 1) // n_parts

    def gen(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            for pid in pdf["pid"]:
                rng = _np.random.RandomState(1000 + int(pid))
                centers = _np.random.RandomState(7).uniform(
                    -1, 1, size=(K_TRUE, DIM)
                )
                lo = int(pid) * per
                hi = min(lo + per, n)
                idx = _np.arange(lo, hi)
                vecs = centers[idx % K_TRUE] + NOISE * (
                    rng.uniform(size=(len(idx), DIM)) - 0.5
                )
                yield _pd.DataFrame(
                    {
                        "id": [f"v{i:07d}" for i in idx],
                        "embedding": [v.tolist() for v in vecs],
                    }
                )

    pids = spark.createDataFrame(
        [(i,) for i in range(n_parts)], "pid int"
    ).repartition(n_parts, "pid")
    corpus = pids.mapInPandas(
        gen, schema="id string, embedding array<double>"
    )

    root = tempfile.mkdtemp(prefix="ivfpq_scale_")
    eng = Engine(spark, root)
    c = eng.create_collection("scale", {"hnsw:space": "cosine"})
    t0 = time.time()
    c.add_df(corpus)
    add_wall = time.time() - t0
    raw_bytes = _dir_bytes(eng.data_path(c.id))
    print(json.dumps({"stage": "add", "n": n, "wall_sec": round(add_wall, 1),
                      "raw_bytes": raw_bytes}), flush=True)

    t0 = time.time()
    c.build_ivfpq_index(
        n_centroids=N_CELLS, max_iter=5, m=M, k=K_CODES, sample_size=8192
    )
    train_wall = time.time() - t0
    t0 = time.time()
    data_path = c.materialize_ivfpq_codes()
    mat_wall = time.time() - t0
    codes_bytes = _column_bytes(data_path, "_ivfpq")
    print(json.dumps({
        "stage": "build", "train_sec": round(train_wall, 1),
        "materialize_sec": round(mat_wall, 1),
        "codes_bytes": codes_bytes,
        "codes_vs_raw": round(codes_bytes / raw_bytes, 4),
    }), flush=True)

    # probes: one corpus point per true cluster
    probe_rows = (
        corpus.filter("id < 'v0000016'").orderBy("id").collect()
    )
    probes = [[float(x) for x in r["embedding"]] for r in probe_rows]

    exact = c.query(probes, n_results=TOP_K, index="exact").collect()
    truth: dict[int, set] = {}
    for row in exact:
        truth.setdefault(row["query_id"], set()).add(row["id"])

    # the probed cells filter the stored cells in the EXECUTED plan
    # (Spark prints an INSET for >threshold literals, IN below it)
    qdf = c.query(
        probes, n_results=TOP_K, index="ivfpq", n_probe=N_PROBE,
        oversample=10,
    )
    plan = qdf._jdf.queryExecution().executedPlan().toString()
    import re as _re

    cell_filter = _re.search(r"_ivfpq#\d+\.cell (IN|INSET)", plan) is not None
    qdf.collect()
    for n_probe, oversample in ((N_PROBE, 10), (8, 20)):
        t0 = time.time()
        got = c.query(
            probes, n_results=TOP_K, index="ivfpq", n_probe=n_probe,
            oversample=oversample,
        ).collect()
        warm_query_wall = time.time() - t0
        hits = sum(1 for row in got if row["id"] in truth[row["query_id"]])
        recall = hits / (TOP_K * N_QUERIES)
        print(json.dumps({
            "stage": "query", "n_probe": n_probe, "n_cells": N_CELLS,
            "oversample": oversample,
            "recall@10": round(recall, 3),
            "warm_query_sec": round(warm_query_wall, 2),
            "cell_filter": cell_filter,
        }), flush=True)

    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
