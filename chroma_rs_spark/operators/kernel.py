"""The one numpy scoring kernel behind every vectorized top-k path.

The exact cosine-pair operator (operators/similarity.py), the one
exact KNN (`knn_exact`, which also takes the MMR pool and the hybrid
dense leg), IVF search (`ivf_topk`:
cell assignment, probe selection and probed-cell scoring) and PQ ADC
(`pq_adc_topk`, `pq_pooled_topk`) share one shape: score a block of
rows locally with a float64 matmul inside an Arrow batch or group,
keep a local top-k, then merge the bounded candidate set with one
window or TakeOrderedAndProject (the per-partition-top-k-then-merge
shape of REPOSE, PAPERS.md). This module holds the single copy of
each piece of that arithmetic, so the paths agree bit-for-bit by
construction:

* `matrix` — Arrow list column to a float64 (n, dim) matrix;
* `cosine_sim` / `distances` — cosine, squared-l2 and ip matrices;
* `fold_dot` / `fold_norms` / `fold_l2` — the same sums in a SQL
  fold's order, for numpy forms that replay a SQL form bit for bit;
* `exact_distances` — `knn_exact`'s distances (and the MMR pairwise
  cosine) in that arithmetic;
* `unit_rows` — the cosine candidate domain's unit normalization;
* `rounded` — DIST_DECIMALS rounding with -0.0 folded to +0.0;
* `rounded_half_up` — the same rounding as Spark's ROUND, for numpy
  forms that replay a SQL form bit for bit (the exact ranking, IVF,
  the PQ and IVF-PQ cells and codes, the ADC tables and sums);
* `assign_residuals` — the IVF-PQ cell-and-residual step;
* `encode_rows` — the PQ and IVF-PQ encodes, one code rule
  (`residual_codes`);
* `adc` — the ADC distances of code rows from per-query lookup tables;
* `probe_cells` — the IVF probe selection of `ivf_topk` and of the
  collection's IVF-PQ search (`pq.ivfpq_probes`);
* `lloyd` — the float64 Lloyd's k-means of the PQ/IVF-PQ trainers;
* `topk_rows` / `topk_per_query` — per-query `lexsort((ids, d))[:k]`
  over finite entries, string ids lexsorted as numpy U-strings;
* `pair_topk` — the tie-inclusive threshold select of the pair tiles;
* `map_batches` / `merge_topk` — the Spark glue on either side.

Every ranking orders by (distance rounded to DIST_DECIMALS, id), so
ties break on id exactly like the global window and the SQL oracles.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Sequence
from typing import TYPE_CHECKING

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pandas loads lazily, inside the scoring tasks
    import pandas as pd

DIST_DECIMALS = 6  # rounding for deterministic cross-engine ranking

# The scoring closures run in Python workers, which need not have this
# package on their import path: ship this module by value, like the
# closures' own code.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def matrix(col: pd.Series) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow array<float|double> column."""
    return np.stack(col.to_numpy()).astype(np.float64)


def norms(mat: np.ndarray) -> np.ndarray:
    return np.linalg.norm(mat, axis=1)


def cosine_sim(a, b, a_norm=None, b_norm=None) -> np.ndarray:
    """(len(a), len(b)) unrounded cosine similarity. A zero-norm or
    non-finite row yields NaN: unscorable, dropped by the finite masks
    below."""
    a_norm = norms(a) if a_norm is None else a_norm
    b_norm = norms(b) if b_norm is None else b_norm
    with np.errstate(divide="ignore", invalid="ignore"):
        return (a @ b.T) / (a_norm[:, None] * b_norm[None, :])


def distances(metric: str, a, b, a_norm=None, b_norm=None) -> np.ndarray:
    """(len(a), len(b)) unrounded distance matrix: cosine = 1 - sim,
    l2 = squared L2 via |a|^2 - 2ab + |b|^2, ip = 1 - a.b."""
    if metric == "cosine":
        return 1.0 - cosine_sim(a, b, a_norm, b_norm)
    with np.errstate(invalid="ignore", over="ignore"):
        if metric == "l2":
            return (
                (a * a).sum(axis=1)[:, None]
                - 2.0 * (a @ b.T)
                + (b * b).sum(axis=1)[None, :]
            )
        if metric == "ip":
            return 1.0 - a @ b.T
    raise ValueError(f"unknown metric {metric!r}")


# (rows, columns) cells of one fold block: the running sums and the
# per-position temporaries stay in cache (about 3x faster than
# whole-matrix passes at 10k x 256; the same operations, the same bits)
_FOLD_BLOCK = 1 << 15


def _fold(a, b, term: Callable) -> np.ndarray:
    """(len(a), len(b)) sums of `term(a[:, p], b[:, p])` accumulated
    from 0.0, position by position, one row block at a time."""
    out = np.zeros((len(a), len(b)), dtype=np.float64)
    at, bt = np.ascontiguousarray(a.T), np.ascontiguousarray(b.T)
    step = max(1, _FOLD_BLOCK // max(len(b), 1))
    for s in range(0, len(a), step):
        acc = out[s : s + step]
        for p in range(len(at)):
            acc += term(at[p, s : s + step, None], bt[p])
    return out


def _product(x, y):
    return x * y


def _squared_diff(x, y):
    diff = x - y
    return diff * diff


def fold_dot(a, b) -> np.ndarray:
    """(len(a), len(b)) dot products accumulated position by position
    from 0.0 — the order a SQL fold (`aggregate`, an unrolled `+`
    chain) evaluates, so the doubles replay in SQL bit for bit. The
    BLAS matmul behind `cosine_sim` sums in blocks instead."""
    return _fold(a, b, _product)


def fold_norms(a) -> np.ndarray:
    """Row L2 norms, squares summed in `fold_dot`'s order (the SQL
    `l2_norm` fold, `ivf._seq_norm`)."""
    acc = np.zeros(len(a), dtype=np.float64)
    for p in range(a.shape[1]):
        acc = acc + a[:, p] * a[:, p]
    return np.sqrt(acc)


def fold_l2(a, b) -> np.ndarray:
    """(len(a), len(b)) squared L2 distances in `fold_dot`'s order:
    (a[p] - b[p])^2 accumulated from 0.0, position by position."""
    return _fold(a, b, _squared_diff)


def exact_distances(metric: str, a, b, a_norm=None) -> np.ndarray:
    """(len(a), len(b)) unrounded distances of `knn_exact`, in the
    arithmetic of a SQL fold, bit for bit: cosine `1 - dot / (|a| |b|)`
    with NaN where `|a| |b| == 0` (where a SQL division by zero yields
    NULL), l2 the squared-L2 fold, ip `1 - dot`; every sum folded in
    position order. `a_norm` is a
    stored norm of the rows of `a` (the collection's add-time norm)."""
    with np.errstate(all="ignore"):
        if metric == "cosine":
            a_norm = fold_norms(a) if a_norm is None else a_norm
            den = a_norm[:, None] * fold_norms(b)[None, :]
            return np.where(den == 0.0, np.nan, 1.0 - fold_dot(a, b) / den)
        if metric == "l2":
            return fold_l2(a, b)
        if metric == "ip":
            return 1.0 - fold_dot(a, b)
    raise ValueError(f"unknown metric {metric!r}")


def unit_rows(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ok, x[ok] / |x[ok]|): the rows of `x` divided by their
    `fold_norms` norm, zero-norm rows dropped (`ok` masks the kept
    rows) — the SQL `CASE WHEN n = 0 THEN NULL ELSE transform(x, v ->
    v / n)` bit for bit; a NaN norm is kept, as there."""
    n = fold_norms(x)
    ok = n != 0.0
    with np.errstate(invalid="ignore"):
        return ok, x[ok] / n[ok, None]


def rounded(x: np.ndarray, fold_zero: bool = True) -> np.ndarray:
    """Round to DIST_DECIMALS (numpy half-even). `+ 0.0` folds -0.0 to
    +0.0 — the `ROUND(...) + 0.0` every distance oracle applies; pair
    similarities keep the sign of zero, like their oracle."""
    r = np.round(x, DIST_DECIMALS)
    return r + 0.0 if fold_zero else r


def rounded_half_up(x: np.ndarray) -> np.ndarray:
    """Spark's `ROUND(x, DIST_DECIMALS) + 0.0`, bit for bit: HALF_UP on
    the shortest decimal form of each double (`BigDecimal.valueOf`),
    where `rounded` is half-even on the binary `x * 1e6` — they differ
    on a half such as 1/128 = 0.0078125 (0.007813 here, 0.007812
    there). The two agree unless `x * 1e6` sits within its rounding
    error of a half (or is too large to hold a fraction); those few
    entries are redone in decimal from `repr`, Python's shortest form."""
    from decimal import ROUND_HALF_UP, Context, Decimal

    r = rounded(x)
    y = np.abs(x) * 10.0**DIST_DECIMALS
    with np.errstate(invalid="ignore"):
        near = np.abs(y - np.floor(y) - 0.5) <= y * 2.0**-50
    step = Decimal(1).scaleb(-DIST_DECIMALS)
    wide = Context(prec=400)  # room for every finite double's digits
    for i in zip(*np.nonzero(near & np.isfinite(y))):
        v = Decimal(repr(float(x[i]))).quantize(step, ROUND_HALF_UP, wide)
        r[i] = float(v) + 0.0
    return r


def assign_residuals(x: np.ndarray, cents: np.ndarray):
    """(ok, pick, resid): the IVF-PQ cell-and-residual step, in the
    arithmetic the DuckDB oracles replay. `ok` masks the non-zero-norm
    rows of `x`, `pick` is their cosine cell (a row of `cents`:
    in-order folds, Spark ROUND's HALF_UP, ties low), `resid` is
    x[ok] - cents[pick]."""
    xnorm = fold_norms(x)
    ok = xnorm != 0.0
    x, xnorm = x[ok], xnorm[ok]
    cos = 1.0 - fold_dot(x, cents) / (xnorm[:, None] * fold_norms(cents)[None, :])
    pick = np.argmin(rounded_half_up(cos), axis=1)
    return ok, pick, x - cents[pick]


def residual_codes(resid: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) int32 codes of the rows of `resid` (plain PQ vectors or
    `assign_residuals`' IVF-PQ residuals): per subspace, the argmin of
    the in-order squared-L2 fold (`fold_l2`) rounded like Spark's ROUND
    (`rounded_half_up`), ties to the lower code — the arithmetic the
    DuckDB oracles replay (`row_number() OVER (ORDER BY d, ci)`)."""
    m, _k, sub = books.shape
    codes = np.empty((len(resid), m), dtype=np.int32)
    for mi in range(m):
        d = fold_l2(resid[:, mi * sub : (mi + 1) * sub], books[mi])
        codes[:, mi] = np.argmin(rounded_half_up(d), axis=1)
    return codes


def encode_rows(x: np.ndarray, books: np.ndarray, cents=None, unit: bool = False):
    """(rows, pick, codes): the rows of `x` that encode, the cell of
    each (a row of `cents`; None for plain PQ) and their codes
    (`residual_codes`) — of the rows themselves without `cents`, else
    of their IVF-PQ residuals (`assign_residuals`). `unit` encodes the
    unit vectors (`unit_rows`); zero-norm rows do not encode under
    `unit` or `cents`."""
    rows = np.arange(len(x))
    if unit:
        ok, x = unit_rows(x)
        rows = rows[ok]
    if cents is None:
        return rows, None, residual_codes(x, books)
    ok, pick, resid = assign_residuals(x, cents)
    return rows[ok], pick, residual_codes(resid, books)


def adc(luts, cids, slots, codes: np.ndarray, cell: np.ndarray | None):
    """(d, probed): the (n, n_queries) ADC distances of `codes` rows,
    rounded like Spark's ROUND (`rounded_half_up`), and the mask of the
    (row, query) pairs that are candidates. `luts` is (m, k, n_slots);
    `slots[c, j]` is query j's LUT slot for cell `cids[c]` (-1: not
    probed), or, with `cids` None, one row of slots every code row
    uses. Each distance sums its m lookups in subspace order from 0.0,
    the order of the DuckDB oracles' `list_sum(list(d ORDER BY mi))`.
    With no (row, query) pair probed it returns NaN distances: a batch
    of unscorable probes has no LUT slot to gather from."""
    if cids is None:
        slot = np.broadcast_to(slots, (len(codes), slots.shape[1]))
    else:
        at = np.minimum(np.searchsorted(cids, cell), len(cids) - 1)
        # a cell the centroids do not know is probed by no query
        slot = np.where((cids[at] == cell)[:, None], slots[at], -1)
    probed = slot >= 0
    if not probed.any():
        return np.full(slot.shape, np.nan), probed
    slot = np.where(probed, slot, 0)
    d = np.zeros(slot.shape, dtype=np.float64)
    for mi in range(codes.shape[1]):
        d += luts[mi][codes[:, mi][:, None], slot]
    return rounded_half_up(d), probed


def probe_cells(cids: np.ndarray, d: np.ndarray, n_probe: int) -> list[np.ndarray]:
    """Each query's `n_probe` nearest cells from the (n_cells, n_queries)
    rounded cosine distances `d`: `lexsort((cids, d))[:n_probe]` per
    query column — ties to the lower cell id, the oracle's ROW_NUMBER
    contract. Non-finite distances are skipped, so an unscorable query
    (zero norm, NaN components) probes no cell."""
    out = []
    for j in range(d.shape[1]):
        fin = np.isfinite(d[:, j])
        ids, dj = cids[fin], d[fin, j]
        out.append(ids[np.lexsort((ids, dj))[:n_probe]])
    return out


def lloyd(x: np.ndarray, k: int, max_iter: int) -> np.ndarray:
    """(k, dim) Lloyd's k-means of the rows of `x` (k <= len(x)) seeded
    with its first k rows: squared-L2 argmin (ties low), float64 means,
    an empty cluster keeps its centroid; stops at a fixed point."""
    if k < 1 or max_iter < 1:
        raise ValueError(f"k-means: k must be >= 1, max_iter too; got {k}, {max_iter}")
    cents = x[:k].copy()
    for _ in range(max_iter):
        lab = np.argmin(distances("l2", x, cents), axis=1)
        new = cents.copy()
        for ci in range(k):
            mask = lab == ci
            if mask.any():
                new[ci] = x[mask].mean(axis=0)
        if np.array_equal(new, cents):
            break
        cents = new
    return cents


def _sortable(ids: np.ndarray) -> np.ndarray:
    # object (string) ids: numpy U-strings lexsort, object arrays don't;
    # code-point order == Spark's string ordering
    return ids.astype(str) if ids.dtype == object else ids


def topk_rows(
    ids: np.ndarray,
    d: np.ndarray,
    k: int,
    mask: np.ndarray | None = None,
    keep_inf: bool = False,
) -> list[np.ndarray]:
    """Per query column of the (n_items, n_queries) rounded distance
    matrix `d`, the row positions of its k smallest finite (distance,
    id) entries in that order, optionally restricted by a same-shape
    boolean `mask`. Non-finite distances are unscorable pairs
    (zero-norm under cosine, NaN components) and never become
    candidates; `keep_inf` drops only NaN, as `knn_exact` ranks and its
    oracles' `NOT isnan` filter does. lexsort rather than argpartition:
    ties at the k-th boundary (rounding manufactures exact ties) must
    break on id like the global window, or a tied lowest-id candidate
    could be dropped locally."""
    ids = _sortable(ids)
    keep = ~np.isnan(d) if keep_inf else np.isfinite(d)
    if mask is not None:
        keep &= mask
    out = []
    for j in range(d.shape[1]):
        rows = np.nonzero(keep[:, j])[0]
        out.append(rows[np.lexsort((ids[rows], d[rows, j]))[:k]])
    return out


def topk_per_query(
    qids: Sequence,
    ids: np.ndarray,
    d: np.ndarray,
    k: int,
    cols: tuple[str, str, str],
    mask: np.ndarray | None = None,
    keep_inf: bool = False,
    carry: dict[str, np.ndarray] | None = None,
) -> pd.DataFrame | None:
    """Local top-k per query (`topk_rows`) as (query, id, *carry,
    distance) rows, named by `cols` and the `carry` keys (per-row
    arrays returned beside each kept row), in (query, distance, id)
    order."""
    import pandas as pd

    ids = _sortable(ids)
    q_col, id_col, d_col = cols
    carry = carry or {}
    tops = topk_rows(ids, d, k, mask, keep_inf)
    frames = [
        pd.DataFrame(
            {q_col: qid, id_col: ids[top]}
            | {c: v[top] for c, v in carry.items()}
            | {d_col: d[top, j]}
        )
        for j, (qid, top) in enumerate(zip(qids, tops))
        if top.size
    ]
    return pd.concat(frames, ignore_index=True) if frames else None


def pair_topk(
    ids_a: np.ndarray,
    mat_a: np.ndarray,
    ids_b: np.ndarray,
    mat_b: np.ndarray,
    top_n: int,
    upper: bool,
    b_norm: np.ndarray | None = None,
) -> pd.DataFrame | None:
    """Local top-N cosine pairs between two row blocks as (id_a < id_b,
    cosine_sim) rows. `upper=True` keeps only id_a < id_b (the blocks
    overlap, so each unordered pair appears twice); `upper=False`
    keeps every distinct-id pair and orients it by id (the blocks are
    disjoint, so each pair appears once, in block order).

    The select keeps ALL pairs tied with the N-th best value, so the
    global (sim desc, id_a, id_b) merge never loses a candidate a local
    block dropped arbitrarily."""
    import pandas as pd

    sims = rounded(cosine_sim(mat_a, mat_b, b_norm=b_norm), fold_zero=False)
    pair = (
        ids_a[:, None] < ids_b[None, :] if upper else ids_a[:, None] != ids_b[None, :]
    )
    ia, ib = np.nonzero(pair & np.isfinite(sims))
    if ia.size == 0:
        return None
    s = sims[ia, ib]
    keep = min(top_n, s.size)
    kth = np.partition(-s, keep - 1)[keep - 1]
    sel = np.nonzero(s >= -kth)[0]
    a, b = ids_a[ia[sel]], ids_b[ib[sel]]
    return pd.DataFrame(
        {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b), "cosine_sim": s[sel]}
    )


def map_batches(
    df: DataFrame,
    score: Callable[[pd.DataFrame], pd.DataFrame | None],
    schema: str,
) -> DataFrame:
    """mapInPandas of `score` over every non-empty Arrow batch; a batch
    scoring to None emits nothing."""

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out = score(pdf)
            if out is not None:
                yield out

    return df.mapInPandas(run, schema=schema)


def merge_topk(
    cands: DataFrame, k: int, query_col: str, id_col: str, dist_col: str
) -> DataFrame:
    """Global top-k per query over the local candidates: row_number()
    by (distance, id) <= k. Returns (query, rank bigint, id, *other
    candidate columns, distance) — bigint rank on every public ranking,
    the int64 a SQL engine's row_number() emits."""
    w = Window.partitionBy(query_col).orderBy(
        F.col(dist_col).asc(), F.col(id_col).asc()
    )
    rest = [c for c in cands.columns if c not in (query_col, id_col, dist_col)]
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_col, F.col("rank").cast("long").alias("rank"), id_col, *rest, dist_col
        )
    )
