"""DuckDB replay of the PQ and IVF-PQ arithmetic, for the tests that
pin the numpy forms (operators/pq.py) to SQL.

It runs the formulas of the suite's oracles (suite/vector.py:
`_pq_adc_oracle`, `_ivfpq_oracle`) over tables a test supplies, so a
test can replay any shape (m, k, sub, cells, queries): in-order
`list_sum` folds, `round(, 6)`, ties to the lower code / cell id /
vector id. Plain PQ is the one-cell case (cell 0, the raw vectors);
with `cents`, the vectors and queries are routed to their rounded-
cosine cells and their residuals are quantized.

The final SELECT reads one of the CTEs: `resid` (vec_id, cell, r),
`codes` (vec_id, cell, mi, code), `probes` (qid, cell) or `adc`
(qid, vec_id, cell, adc_dist).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa


def _cos(v: str, c: str) -> str:
    return (
        f"round(1.0 - list_dot_product({v}, {c})"
        f" / (sqrt(list_dot_product({v}, {v}))"
        f" * sqrt(list_dot_product({c}, {c}))), 6) + 0.0"
    )


def replay(items, books, final: str, cents=None, queries=(), n_probe=1) -> list[tuple]:
    """Rows of `final` (SQL continuing the WITH chain) over `items` and
    `queries` ((id, vector or None) pairs), `books` (m, k, sub) and the
    optional IVF `cents` ((cell, vector) pairs)."""
    books = np.asarray(books, dtype=np.float64)
    m, kk, sub = books.shape
    dim = m * sub
    vec = pa.list_(pa.float64())
    con = duckdb.connect()
    con.register("items", pa.table({
        "vec_id": pa.array([i for i, _ in items], pa.int64()),
        "e": pa.array([v for _, v in items], vec),
    }))
    con.register("queries", pa.table({
        "qid": pa.array([i for i, _ in queries], pa.int64()),
        "qe": pa.array([v for _, v in queries], vec),
    }))
    con.register("books", pa.table({
        "mi": pa.array([mi for mi in range(m) for _ in range(kk)], pa.int32()),
        "ci": pa.array([ci for _ in range(m) for ci in range(kk)], pa.int32()),
        "cvec": pa.array([books[mi, ci].tolist() for mi in range(m) for ci in range(kk)], vec),
    }))
    dist = (
        f"round(list_sum(list_transform(range(1, {sub} + 1),"
        " i -> (sv[i] - cvec[i]) * (sv[i] - cvec[i]))), 6)"
    )
    if cents is None:
        routed = f"""
resid AS (
  SELECT vec_id, 0 AS cell, e AS r FROM items
  WHERE e IS NOT NULL AND len(e) = {dim}
),
probes AS (
  SELECT qid, 0 AS cell, qe FROM queries
  WHERE qe IS NOT NULL AND len(qe) = {dim}
),
qres AS (SELECT qid, cell, qe AS r FROM probes)"""
    else:
        con.register("cent", pa.table({
            "cell": pa.array([c for c, _ in cents], pa.int32()),
            "ce": pa.array([v for _, v in cents], vec),
        }))
        routed = f"""
u AS (
  SELECT vec_id, e FROM items
  WHERE e IS NOT NULL AND len(e) = {dim} AND sqrt(list_dot_product(e, e)) <> 0
),
assign AS (
  SELECT vec_id, e, cell FROM (
    SELECT a.vec_id, a.e, c.cell,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_cos('a.e', 'c.ce')}, c.cell) AS rn
    FROM u a CROSS JOIN cent c
  ) WHERE rn = 1
),
resid AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, {dim} + 1), i -> a.e[i] - c.ce[i]) AS r
  FROM assign a JOIN cent c USING (cell)
),
q AS (
  SELECT qid, qe FROM queries
  WHERE qe IS NOT NULL AND len(qe) = {dim} AND sqrt(list_dot_product(qe, qe)) <> 0
),
probes AS (
  SELECT qid, cell, qe, ce FROM (
    SELECT q.qid, q.qe, c.cell, c.ce,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {_cos('q.qe', 'c.ce')}, c.cell) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {n_probe}
),
qres AS (
  SELECT qid, cell, list_transform(range(1, {dim} + 1), i -> qe[i] - ce[i]) AS r
  FROM probes
)"""
    sql = f"""
WITH {routed.strip()},
it AS (
  SELECT vec_id, cell, CAST(mi AS INT) AS mi,
         r[mi * {sub} + 1 : (mi + 1) * {sub}] AS sv
  FROM resid, unnest(range(0, {m})) t(mi)
),
codes AS (
  SELECT vec_id, cell, mi, ci AS code FROM (
    SELECT it.vec_id, it.cell, it.mi, b.ci,
           row_number() OVER (PARTITION BY it.vec_id, it.mi
                              ORDER BY {dist} ASC, b.ci ASC) AS rn
    FROM it JOIN books b USING (mi)
  ) WHERE rn = 1
),
pr AS (
  SELECT qid, cell, CAST(mi AS INT) AS mi,
         r[mi * {sub} + 1 : (mi + 1) * {sub}] AS sv
  FROM qres, unnest(range(0, {m})) t(mi)
),
lut AS (
  SELECT pr.qid, pr.cell, pr.mi, b.ci AS code, {dist} AS d
  FROM pr JOIN books b USING (mi)
),
adc AS (
  SELECT l.qid, c.vec_id, c.cell,
         round(list_sum(list(l.d ORDER BY l.mi)), 6) + 0.0 AS adc_dist
  FROM codes c
  JOIN lut l ON c.cell = l.cell AND c.mi = l.mi AND c.code = l.code
  GROUP BY l.qid, c.vec_id, c.cell
)
{final}"""
    return [tuple(r) for r in con.sql(sql).fetchall()]


CODES = """
SELECT vec_id, cell, list(code ORDER BY mi) AS codes
FROM codes GROUP BY vec_id, cell
"""


def topk(k: int) -> str:
    """(qid, rank, vec_id, cell, adc_dist): each query's top-k by
    (adc_dist, vec_id)."""
    return f"""
SELECT qid, row_number() OVER (PARTITION BY qid
                               ORDER BY adc_dist ASC, vec_id ASC) AS rank,
       vec_id, cell, adc_dist
FROM adc
QUALIFY rank <= {k}
"""
