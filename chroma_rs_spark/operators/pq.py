"""IVF-PQ-style product quantization for vector collections.

Product quantization (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — the index family behind Faiss
IVF-PQ) compresses a dim-d vector into M uint8 codes by splitting it
into M subspaces and k-means-quantizing each subspace independently.
At the 100 TB design point this is the memory lever exact KNN and IVF
lack: dim=64 float32 vectors (256 B) become M=8 one-byte codes — a
32x shrink — so a 100 TB raw corpus's index fits ~3 TB and each
executor scans codes, not vectors. Search uses ADC (asymmetric
distance computation): per query, an M x K lookup table of exact
subspace distances is built once (tiny), and each candidate's
approximate distance is M table lookups + adds.

Spark shapes (matching the repo's discipline):

* **train** — kernel.lloyd on a bounded, md5-deterministic SAMPLE
  collected to the driver in one job (the universal PQ practice: Faiss
  trains on a sample; the artifact is M*K*(dim/M) doubles), for the
  IVF-PQ cells too (`train_ivfpq`); deterministic seeds, bit-reproducible.
* **encode** — distributed, shuffle-free: one vectorized Arrow pass
  computes all-subspace argmins on the shared numpy kernel
  (operators/kernel.py). This is the justified Pandas-UDF case: M*K
  per-row distance argmins would otherwise be an interpreted HOF tree.
* **search (ADC)** — broadcast the per-query LUTs inside the task
  closure, gather + sum per subspace, then the shared numpy kernel's
  local top-k per partition and one tiny window over |partitions| x
  |queries| x k candidates (operators/kernel.py — the same
  bounded-shuffle shape and arithmetic as knn_exact_local_topk).
* **rescore** — the production pattern: PQ retrieves an oversampled
  candidate set, the raw vectors re-score it exactly (distances
  identical to the exact path's doubles), and the final top-k ranks
  on exact distances. Recall is then a property of the oversample
  factor, not of quantization error alone. The collection's
  `query(index="pq")` and `query(index="ivfpq")` run search and
  rescore in one scan of the items (`pq_pooled_topk`): each row
  stores its code (`stored_codes`, written by materialize), rows
  without a code of the live index generation are encoded on the fly,
  and the candidates carry their vectors to the rescore.
  `pq_topk_rescored_df` is the SQL-replayable chain the declared
  `pq_topk` row runs.
* **IVF-PQ** — the composite index encodes residuals against a cosine
  coarse quantizer. Each op has two forms with one contract. The
  collection runs the numpy forms: `ivfpq_probes` picks the probed
  cells on the driver, kernel.encode_rows encodes
  (`_ivfpq_codes_arrow`), and kernel.adc scores with one LUT
  per (query, probed cell) (`pq_adc_topk(cells=)`, inside
  `pq_pooled_topk`). The oracle-replayed rows
  (`ivfpq_topk`, `ivfpq_recall`, `hybrid_search_ivfpq`) run the SQL
  forms: `ivfpq_codes_df`, `ivfpq_probe_cells` (collected once by
  `_collect_probe_cells` to prune a cell-partitioned code tier) and
  `ivfpq_adc_topk_df`; `_ivfpq_residuals` is the SQL form of
  `kernel.assign_residuals`. The numpy forms replay the SQL forms'
  arithmetic (in-order folds, Spark ROUND's HALF_UP to 6 places, ties
  low), so they assign the same cells, residuals and codes, and the
  numpy ADC returns the same rows on the same codes and probes
  (tests/test_ivfpq.py).

Verification: tests/test_pq.py pins encode codes and ADC distances
bit-for-bit against a pure-numpy reference and checks determinism;
tests/test_collection_pq.py holds the exact re-scored distances and
the measured recall band end to end. Every suite seat is FULLY
oracle-checked (round 11 retired the last rows-only row):
`pq_adc_topk` runs `pq_adc_topk_df` over `hash_codebooks`
(data-independent md5-derived literals a DuckDB oracle embeds
verbatim), and `pq_topk` runs the TRAINED chain end to end —
`train_pq_codebooks_df` is kmeans' fixed-point Lloyd's loop
(operators/centroids.py:_lloyd — micro-unit HUGEINT means, in-order
round-6 folds) run grouped by subspace, so the DuckDB twin unrolls
the full training and replays encode + LUT + ADC + exact rescore on
the trained tables. The collection builds use the numpy trainers
(`train_pq_codebooks`, `train_ivfpq`): recall-banded rather than
hash-gated, since float64 means are not SQL-replayable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chroma_rs_spark.operators import kernel
from chroma_rs_spark.operators.centroids import _lloyd, _md5_sample
from chroma_rs_spark.operators.kernel import DIST_DECIMALS


def _md5_matrix(
    items: DataFrame, item_id: str, item_emb: str, n: int, item_norm: str | None
) -> np.ndarray:
    """The `n` non-NULL vectors of smallest (md5(id), id), collected in
    that order (one Spark job): the numpy trainers' one sample. With a
    stored norm column `item_norm`, rows whose norm is NaN or inf drop
    before the sample is cut: a non-finite component makes the norm
    non-finite (so does a finite row whose norm overflows), and one
    such row in the sample would make its cell's mean, and every ADC
    distance built on it, NaN."""
    import numpy as np

    vecs = items.filter(F.col(item_emb).isNotNull())
    if item_norm is not None:
        norm = F.col(item_norm)
        vecs = vecs.filter(~F.isnan(norm) & (norm != F.lit(float("inf"))))
    vecs = vecs.select(item_id, item_emb)
    rows = _md5_sample(vecs, item_id, n).collect()
    mat = np.asarray([r[item_emb] for r in rows], dtype=np.float64)
    return mat if rows else mat.reshape(0, 0)


def _train_codebooks(x: np.ndarray, m: int, k: int, max_iter: int) -> np.ndarray:
    """(m, k, dim//m) codebooks: kernel.lloyd per subspace of `x`."""
    import numpy as np

    if not len(x):
        raise ValueError("train_pq_codebooks: no vectors to train on")
    sub, rem = divmod(x.shape[1], m)
    if rem:
        raise ValueError(f"dim {x.shape[1]} not divisible by m={m}")
    # tiny corpora: fewer centroids than asked-for is the only sound
    # choice (deterministic — seeds are then ALL sample rows in order)
    subs = (x[:, mi * sub : (mi + 1) * sub] for mi in range(m))
    return np.stack([kernel.lloyd(s, min(k, len(x)), max_iter) for s in subs])


def train_pq_codebooks(
    items: DataFrame,
    m: int = 8,
    k: int = 16,
    max_iter: int = 10,
    sample_size: int = 4096,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    unit: bool = False,
    item_norm: str | None = None,
):
    """Train M codebooks of K centroids each on a deterministic sample.

    Returns a numpy array of shape (m, k, dim//m) — the persisted
    index artifact (M*K*(dim/M) doubles; 8 KiB at m=8, k=16, dim=64).

    The sample is the `sample_size` ids with the smallest
    (md5(id), id) — uniform, engine-independent, reproducible. Each
    subspace runs kernel.lloyd, seeded with the first k sample rows.
    `unit=True` trains on the sample's unit vectors (kernel.unit_rows),
    a cosine collection's domain; the caller excludes zero-norm rows
    before sampling. The same flag is on `train_ivfpq`, `pq_encode`
    and `_ivfpq_codes_arrow`. `item_norm` names a stored norm column:
    rows with a non-finite norm (a NaN or ±inf component, or an
    overflowing norm) then stay out of the sample (_md5_matrix).
    """
    sample = _md5_matrix(items, item_id, item_emb, sample_size, item_norm)
    if unit:
        sample = kernel.unit_rows(sample)[1]
    return _train_codebooks(sample, m, k, max_iter)


def train_ivfpq(
    items: DataFrame,
    n_centroids: int = 16,
    max_iter: int = 5,
    m: int = 8,
    k: int = 16,
    pq_max_iter: int = 10,
    sample_size: int = 4096,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    strict: bool = True,
    unit: bool = False,
    item_norm: str | None = None,
) -> tuple[list[tuple[int, list[float]]], np.ndarray]:
    """(centroids, codebooks) from one collected md5 sample (Jégou et
    al., TPAMI 2011): kernel.lloyd cells labelled in seed order,
    kernel.assign_residuals, kernel.lloyd codebooks. A cell with no
    sample row raises when `strict`, else it is dropped. `unit` and
    `item_norm` as in `train_pq_codebooks`."""
    import numpy as np

    x = _md5_matrix(items, item_id, item_emb, sample_size, item_norm)
    if unit:
        x = kernel.unit_rows(x)[1]
    need = n_centroids if strict else 1
    live = np.arange(min(len(x), n_centroids))
    if len(live) >= need:
        cents = kernel.lloyd(x, len(live), max_iter)
        _, pick, resid = kernel.assign_residuals(x, cents)
        live = np.unique(pick)
    if len(live) < need:
        msg = f"only {len(live)} of {n_centroids} clusters survived training"
        raise ValueError(f"train_ivfpq: {msg}; lower n_centroids or deduplicate")
    books = _train_codebooks(resid, m, k, pq_max_iter)
    return [(int(c), cents[c].tolist()) for c in live], books


def pq_encode(
    items: DataFrame,
    codebooks,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    id_type: str = "long",
    unit: bool = False,
) -> DataFrame:
    """(id, codes ARRAY<INT>): nearest-centroid code per subspace.

    One shuffle-free Arrow pass; ties break to the lower code index
    (numpy argmin's first-occurrence rule — the repo convention).
    `unit=True` encodes the unit vectors (kernel.unit_rows; zero-norm
    rows drop), as in `train_pq_codebooks`.
    """
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks, dtype=np.float64)

    def encode(pdf):
        emb = kernel.matrix(pdf[item_emb])
        rows, _, codes = kernel.encode_rows(emb, books, unit=unit)
        return pd.DataFrame({"id": pdf[item_id].to_numpy()[rows], "codes": list(codes)})

    out = items.filter(F.col(item_emb).isNotNull()).select(item_id, item_emb)
    return kernel.map_batches(out, encode, f"id {id_type}, codes array<int>")


def ivfpq_probes(
    centroids: list[tuple[int, list[float]]],
    queries: Sequence[tuple],
    n_probe: int,
) -> list[np.ndarray]:
    """The numpy form of `ivfpq_probe_cells` for a driver-side query
    list: per query, the cell ids of its `n_probe` nearest cells
    (kernel.probe_cells — ties to the lower cell id; unscorable
    queries probe no cell). The cosine distances replay the SQL form's
    `round(1 - dot / (|q| |c|), 6) + 0.0` with dot and norms folded in
    position order, so both forms probe the same cells. Pass the
    result, with the same `centroids`, as `pq_adc_topk(cells=...)`."""
    import numpy as np

    cids = np.asarray([c for c, _ in centroids], dtype=np.int64)
    cmat = np.asarray([v for _, v in centroids], dtype=np.float64)
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    qmat = qmat.reshape(len(queries), cmat.shape[1])
    norms = kernel.fold_norms(cmat)[:, None] * kernel.fold_norms(qmat)[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        d = kernel.rounded_half_up(1.0 - kernel.fold_dot(cmat, qmat) / norms)
    return kernel.probe_cells(cids, d, n_probe)


def _fold_luts(books, resid):
    """(m, k, n) LUTs of `resid` (n, m*sub), in `pq_adc_topk_df`'s
    SQL-replayable arithmetic (_SUB_DIST_SQL): each subspace distance
    is kernel.fold_l2's in-order fold, rounded to DIST_DECIMALS with
    Spark ROUND's HALF_UP (kernel.rounded_half_up)."""
    import numpy as np

    m, _kk, sub = books.shape
    return np.stack([
        kernel.rounded_half_up(
            kernel.fold_l2(books[mi], resid[:, mi * sub : (mi + 1) * sub])
        )
        for mi in range(m)
    ])


def pq_adc_topk(
    codes: DataFrame,
    codebooks,
    queries: Sequence[tuple],
    k: int = 10,
    id_type: str = "long",
    cells: tuple | None = None,
) -> DataFrame:
    """(query_id, rank, id, adc_dist): approximate top-k by ADC over
    PQ codes (id, codes[, cell]). `queries` is a driver-side list of
    (qid, vector) — small by contract, like every probe set in the
    engine.

    The LUTs are built once on the driver and shipped in the task
    closure; a candidate's distance is the sum of its m lookups,
    accumulated in subspace order from 0.0. Local top-k per Arrow
    batch and the window merge are the shared numpy kernel's
    (operators/kernel.py): distances rounded to DIST_DECIMALS with
    -0.0 folded, ranks tie-break on id — the engine-wide determinism
    contract.

    Plain PQ (`cells=None`) is the one-cell case: each query has one
    LUT, of its own vector, LUT[m][j] = unrounded squared L2 between
    the query's m-th subvector and codebook[m][j], and every code row
    is a candidate.

    IVF-PQ (`cells=(centroids, probed)`, `probed` from `ivfpq_probes`):
    the codes carry a `cell` column and encode residuals against that
    cell's centroid (`_ivfpq_codes_arrow`). Each (query, probed cell)
    pair has its own LUT of the query's residual against the cell,
    in `ivfpq_adc_topk_df`'s arithmetic (_fold_luts), so the ADC
    distances equal that SQL form's bit for bit on the same codes and
    probes. Code rows outside a query's probed cells are no candidates
    of it. The collection's `pq_pooled_topk` scores with the same
    tables (`_adc_tables`, kernel.adc); `ivfpq_adc_topk_df` serves the
    oracle-replayed rows.
    """
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    qids = [q[0] for q in queries]
    tables = _adc_tables(books, queries, cells)

    def score(pdf):
        codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
        cell = None if cells is None else pdf["cell"].to_numpy()
        d, probed = kernel.adc(*tables, codes, cell)
        if not probed.any():
            return None
        return kernel.topk_per_query(
            qids, pdf["id"].to_numpy(), d, k, ("query_id", "id", "adc_dist"),
            mask=probed,
        )

    cands = kernel.map_batches(
        codes, score, f"query_id long, id {id_type}, adc_dist double"
    )
    return kernel.merge_topk(cands, k, "query_id", "id", "adc_dist")


def _adc_tables(books, queries: Sequence[tuple], cells: tuple | None):
    """(luts, cids, slots) of `kernel.adc` for the driver-side (qid,
    vector) `queries`. Plain PQ (`cells` None): one LUT per query of
    its own vector, LUT[m][j] = unrounded squared L2 between the
    query's m-th subvector and codebook[m][j]. IVF-PQ (`cells` =
    (centroids, probed) from `ivfpq_probes`): one LUT per (query,
    probed cell) of the query's residual against that cell, in
    `ivfpq_adc_topk_df`'s arithmetic (_fold_luts)."""
    import numpy as np

    m, _k, sub = books.shape
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64).reshape(-1, m * sub)
    if cells is None:
        # (m, k, nq) LUTs; query j reads slot j from every code row
        luts = np.stack([
            ((books[mi][:, None, :] - qmat[None, :, mi * sub : (mi + 1) * sub]) ** 2).sum(2)
            for mi in range(m)
        ])
        return luts, None, np.arange(len(qmat))[None, :]
    centroids, probed = cells
    cvec = dict(centroids)
    cids = np.asarray(sorted(cvec), dtype=np.int64)
    # slots[c, j]: the LUT slot of (cell cids[c], query j), -1 when
    # query j does not probe that cell
    slots = np.full((len(cids), len(qmat)), -1, dtype=np.int64)
    pairs = [(j, int(c)) for j, cs in enumerate(probed) for c in cs]
    for s, (j, c) in enumerate(pairs):
        slots[np.searchsorted(cids, c), j] = s
    resid = np.asarray(
        [qmat[j] - np.asarray(cvec[c], dtype=np.float64) for j, c in pairs],
        dtype=np.float64,
    ).reshape(len(pairs), m * sub)
    return _fold_luts(books, resid), cids, slots


def _cell_matrix(centroids: list[tuple[int, list[float]]]):
    """(cell ids, (n_cells, dim) float64 centroids) in cell id order."""
    import numpy as np

    order = sorted(centroids, key=lambda c: c[0])
    cids = np.asarray([cid for cid, _vec in order], dtype=np.int64)
    return cids, np.asarray([vec for _cid, vec in order], dtype=np.float64)


def _unit_probe(q: Sequence[float]) -> list[float]:
    """A probe in the cosine candidate domain: divided by its norm (a
    zero probe stays zero)."""
    import math

    qv = [float(x) for x in q]
    n = math.sqrt(sum(x * x for x in qv)) or 1.0
    return [x / n for x in qv]


def stored_codes(
    emb: str,
    codebooks,
    gen: int,
    centroids: list[tuple[int, list[float]]] | None = None,
    unit: bool = False,
) -> Column:
    """The code a row stores for the index of generation `gen`:
    struct(gen BIGINT, codes ARRAY<INT>) under PQ `codebooks`, or
    struct(gen BIGINT, cell INT, codes ARRAY<INT>) under an IVF-PQ
    index (`centroids` given) — NULL for a NULL, wrong-dim or (with
    `unit`) zero-norm `emb`. One Arrow projection: only the embedding
    column travels to Python, and the codes are `pq_encode`'s and
    `_ivfpq_codes_arrow`'s arithmetic (kernel.encode_rows), so a
    stored code equals the code `pq_pooled_topk` computes for a row
    without one."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books = np.asarray(codebooks, dtype=np.float64)
    m, _k, sub = books.shape
    ivf = centroids is not None
    cids, cents = _cell_matrix(centroids) if ivf else (None, None)

    def encode(col):
        codes = np.full(len(col), None, dtype=object)
        cell = np.full(len(col), None, dtype=object)
        sel = np.nonzero(
            np.fromiter((-1 if v is None else len(v) for v in col), int, len(col))
            == m * sub
        )[0]
        if sel.size:
            rows, pick, coded = kernel.encode_rows(
                kernel.matrix(col.iloc[sel]), books, cents, unit
            )
            for j, i in enumerate(sel[rows]):
                codes[i] = coded[j]
                if ivf:
                    cell[i] = int(cids[pick[j]])
        return pd.DataFrame({"cell": cell, "codes": codes} if ivf else {"codes": codes})

    # a Series -> DataFrame (struct) scalar UDF; the hints are set here
    # because pandas loads lazily, so string annotations cannot resolve
    encode.__annotations__ = {"col": pd.Series, "return": pd.DataFrame}
    udf = pandas_udf(encode, ("cell int, " if ivf else "") + "codes array<int>")
    enc = udf(F.col(emb))
    fields = [F.lit(int(gen)).cast("bigint").alias("gen")]
    if ivf:
        fields.append(enc["cell"].alias("cell"))
    fields.append(enc["codes"].alias("codes"))
    return F.when(enc["codes"].isNotNull(), F.struct(*fields))


def pq_pooled_topk(
    items: DataFrame,
    codebooks,
    queries: Sequence[tuple],
    k: int,
    pool_k: int,
    metric: str,
    unit: bool = False,
    centroids: list[tuple[int, list[float]]] | None = None,
    n_probe: int = 4,
    stored: tuple[str, int] | None = None,
) -> DataFrame:
    """(query_id, rank, id, distance): the exact top-k per query among
    an ADC candidate pool — PQ (or IVF-PQ with `centroids`) search and
    its exact rescore in one scan of the collection's (id, embedding,
    embedding_norm[, code column]) rows. `queries` is the driver-side
    list of (qid, raw vector); with `unit` the ADC side searches their
    unit vectors (a cosine collection). `stored` is (code column,
    generation) of the codes the rows hold (`stored_codes`); without
    it every row is encoded on the fly.

    * A JVM filter keeps the rows that can be candidates: with IVF-PQ,
      a row whose stored code is of the generation must sit in a
      probed cell (`ivfpq_probes`, picked on the driver).
    * One `mapInPandas` per partition takes each row's stored code
      when it is of the generation, else encodes the row on the fly
      (the arithmetic of `pq_encode` / `_ivfpq_codes_arrow`), scores
      ADC (`pq_adc_topk`'s arithmetic, `_adc_tables` + kernel.adc) and
      keeps each query's `pool_k` best (adc, id) rows across the
      partition's batches, carrying their vectors.
    * One `row_number()` window (a single partition: the candidates
      are at most |partitions| x |queries| x pool_k rows) cuts each
      query's global pool.
    * One Arrow step rescores the UNION of the queries' pools against
      every query with `kernel.exact_distances` +
      `kernel.rounded_half_up` — `knn_exact_local_topk`'s arithmetic on
      the stored norm — and ranks by (distance, id), keeping ±inf and
      dropping NaN like `knn_exact`.

    So the returned rows equal an exact ranking of the pooled ids, and
    approximation affects recall only. This is the per-partition
    top-k then merge shape of REPOSE (ICDE 2021, PAPERS.md), with the
    candidates' vectors riding along so the items are read once."""
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks, dtype=np.float64)
    m, _k, sub = books.shape
    cosine = metric == "cosine"
    qids = [q[0] for q in queries]
    raw = np.asarray([q[1] for q in queries], dtype=np.float64).reshape(-1, m * sub)
    probes = [
        (i, _unit_probe(v) if unit else [float(x) for x in v]) for i, v in queries
    ]
    ivf = centroids is not None
    cells = (centroids, ivfpq_probes(centroids, probes, n_probe)) if ivf else None
    cids, cents = _cell_matrix(centroids) if ivf else (None, None)
    tables = _adc_tables(books, probes, cells)

    src = items.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == m * sub)
    )
    carry = ["id", "embedding"] + (["embedding_norm"] if cosine else [])
    if stored is None:
        code_cols = [F.lit(None).cast("array<int>").alias("_codes")]
        if ivf:
            code_cols.append(F.lit(None).cast("int").alias("_cell"))
    else:
        col, gen = stored
        fresh = F.coalesce(F.col(f"{col}.gen") == F.lit(int(gen)), F.lit(False))
        code_cols = [F.when(fresh, F.col(f"{col}.codes")).alias("_codes")]
        if ivf:
            code_cols.append(F.when(fresh, F.col(f"{col}.cell")).alias("_cell"))
            probed = sorted({int(c) for cs in cells[1] for c in cs})
            src = src.filter(~fresh | F.col(f"{col}.cell").isin(probed))
    src = src.select(*carry, *code_cols)

    def pool(pdf):
        have = pdf["_codes"].notna().to_numpy()
        codes = np.zeros((len(pdf), m), dtype=np.int64)
        cell = np.zeros(len(pdf), dtype=np.int64)
        if have.any():
            codes[have] = np.stack(pdf["_codes"].to_numpy()[have])
            if ivf:
                cell[have] = pdf["_cell"].to_numpy()[have]
        late = np.nonzero(~have)[0]
        if late.size:
            rows, pick, coded = kernel.encode_rows(
                kernel.matrix(pdf["embedding"].iloc[late]), books, cents, unit
            )
            late = late[rows]
            codes[late] = coded
            if ivf:
                cell[late] = cids[pick]
            have[late] = True
        rows = np.nonzero(have)[0]
        d, probed = kernel.adc(*tables, codes[rows], cell[rows] if ivf else None)
        tops = kernel.topk_rows(pdf["id"].to_numpy()[rows], d, pool_k, mask=probed)
        frames = [
            pdf.iloc[rows[top]][carry].assign(query_id=qid, adc_dist=d[top, j])
            for j, (qid, top) in enumerate(zip(qids, tops))
            if top.size
        ]
        return pd.concat(frames, ignore_index=True) if frames else None

    def best(cands):
        # each query's pool_k best (adc, id) rows
        ids = kernel._sortable(cands["id"].to_numpy())
        qid = cands["query_id"].to_numpy()
        cands = cands.iloc[np.lexsort((ids, cands["adc_dist"].to_numpy(), qid))]
        return cands[cands.groupby("query_id").cumcount().to_numpy() < pool_k]

    def run_pool(batches):
        kept = None
        for pdf in batches:
            cands = None if pdf.empty else pool(pdf)
            if cands is not None:
                kept = cands if kept is None else best(pd.concat([kept, cands]))
        if kept is not None:
            yield kept

    def rescore(batches):
        cands = [pdf for pdf in batches if not pdf.empty]
        if not cands:
            return
        cands = pd.concat(cands, ignore_index=True)
        # each pooled item once, however many pools hold it
        _, first = np.unique(
            kernel._sortable(cands["id"].to_numpy()), return_index=True
        )
        union = cands.iloc[first]
        norm = union["embedding_norm"].to_numpy(np.float64) if cosine else None
        d = kernel.exact_distances(metric, kernel.matrix(union["embedding"]), raw, norm)
        top = kernel.topk_per_query(
            qids, union["id"].to_numpy(), kernel.rounded_half_up(d), k,
            ("query_id", "id", "distance"), keep_inf=True,
        )
        if top is not None:
            top.insert(1, "rank", top.groupby("query_id").cumcount() + 1)
            yield top

    carried = ", ".join(f"{c} {t}" for c, t in src.dtypes if c in carry)
    cands = src.mapInPandas(
        run_pool, f"{carried}, query_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("id").asc()
    )
    pooled = (
        cands.repartition(1)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= pool_k)
        .select(*carry)
    )
    return pooled.mapInPandas(
        rescore, "query_id long, rank long, id string, distance double"
    )


def train_pq_codebooks_df(
    items: DataFrame,
    m: int = 8,
    k: int = 16,
    max_iter: int = 10,
    sample_size: int = 4096,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    dim: int | None = None,
):
    """Oracle-REPLAYABLE PQ training: PQ is independent k-means per
    subspace, so this is kmeans' own loop (centroids.py:_lloyd) run
    grouped by subspace `mi` — all m subspaces train together in one
    Spark job per iteration, and codebook `mi` is bit-equal to
    `kmeans` on subspace `mi` of the same sample.

    Numeric contract (every rounding decision happens in Spark with
    the exact expressions the SQL oracle mirrors):
    * sample = the `sample_size` ids with the smallest (md5(id), id)
      — uniform, engine-independent (same rule as train_pq_codebooks);
    * seeds per subspace = the first k sample rows in that order;
      seed centroid component = round(val * 1e6) / 1e6;
    * E-step distance = in-order fold of (sv[i]-cvec[i])^2, round-6,
      -0.0 folded, ties to the LOWER label;
    * M-step mean = exact integer micro-unit sum (decimal(38,0) /
      HUGEINT in the oracle) with half-away-from-zero integer
      division — the label_centroids formula.

    Returns a dense numpy (m, k, sub) array; raises if any subspace
    lost a cluster during training (the dense-codebook contract the
    ADC search needs — lower k or dedup the input). Unlike the numpy
    `train_pq_codebooks` (float64 means, BLAS expansion distances —
    NOT SQL-replayable), this artifact supports a full DuckDB oracle
    over the trained search chain.
    """
    import numpy as np

    if dim is None:
        probe = (
            items.filter(F.col(item_emb).isNotNull())
            .select(F.size(item_emb))
            .first()
        )
        if probe is None:
            raise ValueError("train_pq_codebooks_df: no vectors to train on")
        dim = int(probe[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    sample = _md5_sample(
        items.filter(
            F.col(item_emb).isNotNull() & (F.size(item_emb) == dim)
        ).select(
            F.col(item_id).alias("_id"),
            F.col(item_emb).cast("array<double>").alias("_e"),
        ),
        "_id",
        sample_size,
    )
    # the (row, subspace) training relation, materialized once for the
    # whole loop (<= sample_size * m small rows); the first k sample
    # rows, split the same way, seed every subspace
    subr = sample.selectExpr("_id", _subspace_sql("_e", m, sub)).localCheckpoint()
    seeds = sample.limit(k).selectExpr("_id", _subspace_sql("_e", m, sub))
    state, _ = _lloyd(subr, seeds, k, max_iter, group=("mi",), dim=sub)

    books = np.full((m, k, sub), np.nan, dtype=np.float64)
    for mi, lbl, pos, c, _n in state:
        books[mi, lbl, pos] = c
    if np.isnan(books).any():
        missing = sorted(
            {
                (mi, lbl)
                for mi in range(m)
                for lbl in range(k)
                if np.isnan(books[mi, lbl]).any()
            }
        )
        raise ValueError(
            f"train_pq_codebooks_df: clusters emptied during training "
            f"(missing {missing[:4]}...); lower k or deduplicate input"
        )
    return books


def pq_topk_rescored_df(
    items: DataFrame,
    codebooks,
    probes: DataFrame,
    k: int = 10,
    oversample: int = 4,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    probe_id: str = "query_id",
    probe_emb: str = "query_embedding",
) -> DataFrame:
    """Production PQ search, end-to-end SQL-replayable: the DataFrame
    ADC chain (pq_adc_topk_df — packed codes, broadcast flat LUT,
    unrolled in-order folds) retrieves k*oversample candidates, the
    id-join against the raw vectors re-scores them with the exact
    round-6 squared L2, and the final top-k ranks on exact distances
    (ties to the lower id). With `codebooks` from
    train_pq_codebooks_df every stage — training included — replays
    in ANSI SQL, unlike the numpy pq_encode + pq_adc_topk kernels,
    whose pairwise summation no SQL engine reproduces bitwise.

    Returns (probe_id, rank, neighbor_id, distance)."""
    from chroma_rs_spark.functions.vector import l2_distance

    cand = pq_adc_topk_df(
        items,
        codebooks,
        probes,
        k=int(k) * int(oversample),
        item_id=item_id,
        item_emb=item_emb,
        probe_id=probe_id,
        probe_emb=probe_emb,
    ).select(probe_id, "neighbor_id")
    raw = items.select(
        F.col(item_id).alias("neighbor_id"), F.col(item_emb).alias("_re")
    )
    pr = probes.select(probe_id, F.col(probe_emb).alias("_qe"))
    scored = (
        cand.join(raw, "neighbor_id")
        .join(F.broadcast(pr), probe_id)
        .select(
            probe_id,
            "neighbor_id",
            (F.round(l2_distance(F.col("_re"), F.col("_qe")), 6) + F.lit(0.0)).alias(
                "distance"
            ),
        )
    )
    return kernel.merge_topk(scored, k, probe_id, "neighbor_id", "distance")


def hash_codebooks(m: int = 8, k: int = 16, sub: int = 8):
    """Data-INDEPENDENT deterministic PQ codebooks: component (mi, ci,
    pos) is derived from md5 of its coordinates — full-rank
    pseudo-random centroids reproducible from the formula alone, so an
    ANSI-SQL oracle can embed the identical literal doubles and replay
    the whole encode/ADC pipeline (suite/vector.py:pq_adc_topk). The
    TRAINED codebooks (train_pq_codebooks) stay the production path;
    these exist to make the ADC machinery itself hash-checkable."""
    import hashlib

    import numpy as np

    books = np.empty((m, k, sub), dtype=np.float64)
    for mi in range(m):
        for ci in range(k):
            for pos in range(sub):
                h = int(
                    hashlib.md5(f"{mi}:{ci}:{pos}".encode()).hexdigest()[:8],
                    16,
                )
                books[mi, ci, pos] = (h / 4294967296.0) * 2.0 - 1.0
    return books


def _subspace_sql(emb_col: str, m: int, sub: int) -> str:
    """inline() projection of a dim-(m*sub) array column into
    (mi, sv) subspace rows — shared by the encode and LUT stages."""
    return "inline(array({}))".format(
        ",".join(
            f"struct({mi} AS mi, slice(`{emb_col}`, {mi * sub + 1}, {sub})"
            " AS sv)"
            for mi in range(m)
        )
    )


_SUB_DIST_SQL = (
    "round(aggregate(transform(sequence(1, {sub}),"
    " i -> (element_at(sv, i) - element_at(cvec, i))"
    " * (element_at(sv, i) - element_at(cvec, i))),"
    " 0D, (a, x) -> a + x), {nd})"
)


def _codebook_df(spark, books) -> DataFrame:
    """(mi, ci, cvec): one row per codeword — the tiny broadcast
    relation the LUT stages join (m*k rows; the encode side uses
    codebook literals instead, see _code_col_sql)."""
    m, kk, _sub = books.shape
    return spark.createDataFrame(
        [
            (mi, ci, [float(x) for x in books[mi, ci]])
            for mi in range(m)
            for ci in range(kk)
        ],
        "mi INT, ci INT, cvec ARRAY<DOUBLE>",
    )


def _books_by_mi_df(spark, books) -> DataFrame:
    """One row PER SUBSPACE (mi, cb ARRAY<ARRAY<DOUBLE>>): the
    broadcast relation the shuffle-free encode joins — k centroids per
    row instead of _codebook_df's k rows per codeword, so the argmin
    runs as one per-row least() instead of a min-struct aggregate."""
    m, kk, _sub = books.shape
    return spark.createDataFrame(
        [
            (mi, [[float(x) for x in books[mi, ci]] for ci in range(kk)])
            for mi in range(m)
        ],
        "mi INT, cb ARRAY<ARRAY<DOUBLE>>",
    )


def _code_least_sql(kk: int, sub: int, nd: int) -> str:
    """Codeword argmin as ONE map-side expression — the assign_cells
    least-struct discipline applied to the encode stage. Evaluated per
    (row, subspace) after the inline() explode, against the joined
    per-subspace centroid list `cb`. Bit-identical doubles to the old
    broadcast-join + min-struct-aggregate form: per ci the squared
    terms accumulate left-to-right from 0D exactly like
    _SUB_DIST_SQL's in-order fold, the same round(, nd) lands before
    the argmin, and least() over (d, ci) structs breaks ties to the
    lower code like min(struct(_d, ci)).

    Sizing (hard-won, keep): the k*sub multiply-adds here (128 at the
    8x16 default) compile fine, but fusing all m subspaces into one
    projection — as array()/stack() of least()s over centroid
    LITERALS, whether as one expression or m separate columns — blows
    janino's method limit once whole-stage codegen pipelines the
    encode with the assign/residual stages into a single
    processNext(), and the silent interpreted fallback ran ~3x
    slower end to end. The per-subspace explode keeps every generated
    method small at the cost of an m-row Generate."""
    cands = []
    for ci in range(kk):
        acc = "0D"
        for i in range(sub):
            e = f"element_at(sv, {i + 1})"
            c = f"element_at(element_at(cb, {ci + 1}), {i + 1})"
            acc = f"({acc} + ({e} - {c}) * ({e} - {c}))"
        cands.append(f"struct(round({acc}, {nd}) AS d, {ci} AS c)")
    if len(cands) == 1:
        return f"{cands[0]}.c"
    return f"least({', '.join(cands)}).c"


def _codes_long(df: DataFrame, emb_col: str, books, nd: int) -> DataFrame:
    """Append (mi, code) rows per input row: inline the m (mi, sv)
    subspace slices (a map-side Generate — m small rows per vector,
    never m*k), broadcast-join the m-row per-subspace codebook
    relation, then one least-struct argmin per row. One shuffle-free
    codegen stage; all non-emb columns are carried through. Replaces
    the k-rows-per-codeword join + min-struct groupBy that shuffled
    |rows|*m*k exploded rows through an exchange."""
    m, kk, sub = books.shape
    carried = [f"`{c}`" for c in df.columns if c != emb_col]
    bmi = _books_by_mi_df(df.sparkSession, books)
    return (
        df.selectExpr(*carried, _subspace_sql(emb_col, m, sub))
        .join(F.broadcast(bmi), "mi")
        .selectExpr(
            *carried, "mi", f"{_code_least_sql(kk, sub, nd)} AS code"
        )
    )


def _collect_codes_array(long: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., codes ARRAY<INT>) from _codes_long rows — codes[i] is
    subspace i's codeword (array_sort over (mi, code) structs pins the
    order). One exchange of |rows|*m tiny int rows; the packed array
    is what makes ADC m lookups per candidate instead of an m-row join
    fan, so the search side never explodes codes again."""
    return (
        long.groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("mi", F.col("code").alias("c")))
                ),
                lambda s: s["c"],
            ).alias("codes")
        )
    )


def _lut_flat(rows: DataFrame, keys: list[str], books) -> DataFrame:
    """The ADC lookup table of (keys..., mi, sv) probe subspace rows:
    each subvector's round-6 squared L2 to every codeword of its
    subspace (the broadcast _codebook_df relation), flattened into ONE
    m*k-double array L per key group, ordered by (mi, code) so
    element_at(L, mi*k + code + 1) is subspace mi's distance for
    `code`. Tiny by contract: |probes| x n_probe groups."""
    sub = books.shape[2]
    lut = (
        rows.join(F.broadcast(_codebook_df(rows.sparkSession, books)), "mi")
        .withColumn("_d", F.expr(_SUB_DIST_SQL.format(sub=sub, nd=DIST_DECIMALS)))
        .select(*keys, "mi", F.col("ci").alias("code"), "_d")
    )
    return lut.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("mi", "code", "_d"))),
            lambda s: s["_d"],
        ).alias("L")
    )


def _adc_fold_sql(m: int, kk: int, nd: int) -> str:
    """The ADC distance as an unrolled in-order fold of m LUT lookups
    — element_at(L, mi*k + codes[mi] + 1) accumulated left-to-right
    from 0D, round(nd) + 0.0 exactly like the aggregate() fold over
    the mi-sorted collect_list it replaces (same addition order, same
    doubles), but as one codegen expression per candidate row with no
    groupBy behind it."""
    acc = "0D"
    for mi in range(m):
        acc = (
            f"({acc} + element_at(L,"
            f" {mi * kk} + element_at(codes, {mi + 1}) + 1))"
        )
    return f"round({acc}, {nd}) + 0.0D"


def pq_codes_df(
    items: DataFrame,
    codebooks,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
) -> DataFrame:
    """(_vid, mi, code): the DataFrame-native encode stage of
    `pq_adc_topk_df`, exposed so tests can pin its code assignments
    directly against the numpy `pq_encode` kernel. One shuffle-free
    codegen stage (_codes_long): inline to (row, mi) rows, broadcast
    per-subspace codebooks, per-row least-struct argmin — the old
    k-rows join + min-struct groupBy shuffled |rows|*m*k rows."""
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m, _kk, sub = books.shape
    dim = m * sub
    it = items.filter(
        F.col(item_emb).isNotNull() & (F.size(item_emb) == dim)
    ).select(F.col(item_id).alias("_vid"), F.col(item_emb).alias("_e"))
    return _codes_long(it, "_e", books, DIST_DECIMALS)


def pq_adc_topk_df(
    items: DataFrame,
    codebooks,
    probes: DataFrame,
    k: int = 10,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    probe_id: str = "query_id",
    probe_emb: str = "query_embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id, adc_dist): PQ encode + ADC top-k
    expressed ENTIRELY in DataFrame operators — the oracle-checkable
    twin of pq_encode + pq_adc_topk (whose numpy kernels use pairwise
    summation a SQL engine cannot replay bitwise).

    Every float reduction is an IN-ORDER left fold over a
    deterministically ordered list (the bm25/centroid discipline):
    subspace distances fold positions 1..sub left-to-right and are
    rounded to DIST_DECIMALS before the (dist, code) argmin; the ADC
    sum folds the m per-subspace LUT entries in subspace order and is
    rounded again with -0.0 folded. Parity of this plan with the numpy
    production path on the same codebooks is pinned by
    tests/test_pq.py.

    Scale shape: the per-subspace codebook relation is broadcast to
    both the encode join and the LUT join; the encode argmin is one
    map-side least-struct per (row, subspace); codes are packed into
    an m-int array per candidate (one tiny-row exchange) and the ADC
    distance is an unrolled m-lookup codegen fold against the
    broadcast per-query flat LUT — each candidate row is touched
    exactly once, no per-candidate join fan, no aggregate behind the
    distance; the final top-k is a bounded per-query window. No
    driver collect of corpus data.
    """
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m, kk, sub = books.shape
    dim = m * sub
    codes = _collect_codes_array(
        pq_codes_df(items, books, item_id=item_id, item_emb=item_emb),
        ["_vid"],
    )
    pr = probes.filter(
        F.col(probe_emb).isNotNull() & (F.size(probe_emb) == dim)
    ).selectExpr(f"`{probe_id}` AS _qid", _subspace_sql(probe_emb, m, sub))
    adc = codes.crossJoin(F.broadcast(_lut_flat(pr, ["_qid"], books))).selectExpr(
        "_qid",
        "_vid",
        f"{_adc_fold_sql(m, kk, DIST_DECIMALS)} AS adc_dist",
    )
    return kernel.merge_topk(adc, k, "_qid", "_vid", "adc_dist").select(
        F.col("_qid").alias(probe_id),
        "rank",
        F.col("_vid").alias("neighbor_id"),
        "adc_dist",
    )


def _ivfpq_codes_arrow(
    items: DataFrame,
    codebooks,
    centroids: list[tuple[int, list[float]]],
    item_id: str,
    item_emb: str,
    unit: bool = False,
) -> DataFrame:
    """(item_id, cell, codes ARRAY<INT>): the composite index's encode
    as one shuffle-free Arrow pass on the shared numpy kernel — the
    arithmetic the collection stores in its rows (`stored_codes`) and
    runs on late rows at query time (`pq_pooled_topk`).
    `ivfpq_codes_df` is the SQL form of the same op, for the
    oracle-replayed rows.

    It replays the SQL form's arithmetic: cells and residuals come
    from kernel.assign_residuals, and each subspace code is the argmin
    of the round-6 in-order squared-L2 fold (_code_least_sql, ties to
    the lower code). So both forms assign the same (cell, codes).
    Zero-norm/NULL/wrong-dim vectors drop, as in the SQL form.
    `unit=True` encodes the unit vectors (kernel.unit_rows), as in
    `pq_encode`: the collection passes its raw rows, so no SQL
    higher-order function normalizes them in its plans."""
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks, dtype=np.float64)
    m, _kk, sub = books.shape
    cids, cents = _cell_matrix(centroids)

    def encode(pdf):
        rows, pick, codes = kernel.encode_rows(
            kernel.matrix(pdf[item_emb]), books, cents, unit
        )
        if not len(rows):
            return None
        return pd.DataFrame(
            {
                item_id: pdf[item_id].to_numpy()[rows],
                "cell": cids[pick].astype(np.int32),
                "codes": list(codes),
            }
        )

    scorable = items.filter(
        F.col(item_emb).isNotNull() & (F.size(item_emb) == m * sub)
    ).select(item_id, item_emb)
    id_type = dict(items.dtypes)[item_id]
    return kernel.map_batches(
        scorable, encode, f"{item_id} {id_type}, cell int, codes array<int>"
    )


def _cells_df(spark, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """(cell INT, cvec ARRAY<DOUBLE>): the tiny centroid relation the
    residual and probe stages broadcast-join."""
    return spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cell INT, cvec ARRAY<DOUBLE>",
    )


def _ivfpq_residuals(
    items: DataFrame,
    centroids: list[tuple[int, list[float]]],
    item_id: str,
    item_emb: str,
    cent_df: DataFrame | None = None,
) -> DataFrame:
    """(_vid, cell, _r): each vector's cosine cell (map-side
    least-struct over centroid literals, operators/ivf.py:assign_cells)
    and its residual against that cell's centroid — the domain the
    SQL encode (`ivfpq_codes_df`) quantizes; kernel.assign_residuals
    is its numpy form. The subtraction is a `zip_with` over the
    broadcast centroid relation (exact binary doubles, replayable by
    the SQL oracle). Zero-norm vectors have no cosine cell and drop."""
    from chroma_rs_spark.operators.ivf import assign_cells

    if cent_df is None:
        cent_df = _cells_df(items.sparkSession, centroids)
    assigned = assign_cells(items, centroids, item_emb=item_emb).select(
        F.col(item_id).alias("_vid"),
        F.col(item_emb).cast("array<double>").alias("_e"),
        F.col("cell").cast("int").alias("cell"),
    )
    return assigned.join(F.broadcast(cent_df), "cell").select(
        "_vid",
        "cell",
        F.expr("zip_with(_e, cvec, (x, y) -> x - y)").alias("_r"),
    )


def ivfpq_codes_df(
    items: DataFrame,
    codebooks,
    centroids: list[tuple[int, list[float]]],
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    cent_df: DataFrame | None = None,
) -> DataFrame:
    """(item_id, cell, codes ARRAY<INT>): the composite index's encode
    stage — cell assignment and residual (_ivfpq_residuals), the
    shuffle-free per-subspace argmin (_codes_long), then one tiny-row
    exchange packing codes[i] = subspace i's codeword
    (_collect_codes_array). This is the materializable scan tier:
    persisted, a query reads m bytes per candidate instead of raw
    vectors. Zero-norm/NULL/wrong-dim vectors are unscorable under the
    cosine quantizer and are dropped.

    This is the SQL form, fully oracle-replayable: the declared and
    extra rows (`ivfpq_topk`, `ivfpq_recall`, `hybrid_search_ivfpq`)
    encode here. The collection encodes with the Arrow form of the
    same op (`_ivfpq_codes_arrow`), which assigns the same codes — the
    round-12 scale proof measured this HOF expression at 17x the Arrow
    wall on a 409.6k x 64-cell encode."""
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m, _kk, sub = books.shape
    scorable = items.filter(
        F.col(item_emb).isNotNull() & (F.size(item_emb) == m * sub)
    )
    resid = _ivfpq_residuals(scorable, centroids, item_id, item_emb, cent_df)
    long = _codes_long(resid, "_r", books, DIST_DECIMALS)
    return _collect_codes_array(long, ["_vid", "cell"]).select(
        F.col("_vid").alias(item_id), "cell", "codes"
    )


def ivfpq_probe_cells(
    probes: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int = 4,
    dim: int | None = None,
    probe_id: str = "query_id",
    probe_emb: str = "query_embedding",
    cent_df: DataFrame | None = None,
) -> DataFrame:
    """(_qid, cell, _qr): each query's `n_probe` nearest cells by
    rounded cosine (ties to the lower cell id — the oracle's ROW_NUMBER
    contract) with the per-cell query residual. |queries| x |cells| is
    tiny; both relations broadcast. Factored out of ivfpq_adc_topk_df
    so a caller holding a cell-partitioned materialized code tier can
    collect the probed cell ids (n_queries x n_probe ints) and push an
    isin() partition-pruning filter into the code scan before a byte
    of codes is read. Zero-norm / NULL / wrong-dim probes drop."""
    from chroma_rs_spark.functions.vector import dot_product_sql, l2_norm_sql

    pr = probes
    if dim is not None:
        pr = pr.filter(
            F.col(probe_emb).isNotNull() & (F.size(probe_emb) == dim)
        )
    else:
        pr = pr.filter(F.col(probe_emb).isNotNull())
    pr = pr.select(
        F.col(probe_id).alias("_qid"),
        F.col(probe_emb).cast("array<double>").alias("_qe"),
    )
    if cent_df is None:
        cent_df = _cells_df(pr.sparkSession, centroids)
    qnorm = pr.withColumn(
        "_qnorm", F.expr(l2_norm_sql("_qe"))
    ).filter(F.col("_qnorm") != F.lit(0.0))
    qc = qnorm.crossJoin(F.broadcast(cent_df)).withColumn(
        "_cd",
        F.expr(
            f"round(1.0D - {dot_product_sql('_qe', 'cvec')}"
            f" / (_qnorm * {l2_norm_sql('cvec')}),"
            f" {DIST_DECIMALS}) + 0.0D"
        ),
    )
    wp = Window.partitionBy("_qid").orderBy(
        F.col("_cd").asc(), F.col("cell").asc()
    )
    return (
        qc.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= n_probe)
        .select(
            "_qid",
            "cell",
            F.expr("zip_with(_qe, cvec, (x, y) -> x - y)").alias("_qr"),
        )
    )


def _collect_probe_cells(
    probes: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    dim: int,
) -> tuple[DataFrame, list[int]]:
    """ivfpq_probe_cells run ONCE and collected (n_queries x n_probe
    driver-tiny rows), for the oracle-replayed `ivfpq_topk` row, which
    holds a cell-partitioned code tier (the collection picks its
    probed cells with the numpy `ivfpq_probes` and runs no job):
    returns the rows as a DataFrame to pass back as
    ivfpq_adc_topk_df's `probed=` — so the |queries| x |cells|
    assignment does not run a second time in-plan — and the sorted
    probed cell ids for an isin() partition filter on the code scan.
    Doubles round-trip collect/createDataFrame bit-exactly, so the LUT
    is identical to the in-plan assignment's."""
    probed = ivfpq_probe_cells(probes, centroids, n_probe=n_probe, dim=dim)
    rows = probed.collect()
    return (
        probes.sparkSession.createDataFrame(rows, probed.schema),
        sorted({r["cell"] for r in rows}),
    )


def ivfpq_adc_topk_df(
    items: DataFrame,
    codebooks,
    centroids: list[tuple[int, list[float]]],
    n_probe: int = 4,
    k: int = 10,
    probes: DataFrame | None = None,
    item_id: str = "vec_id",
    item_emb: str = "embedding",
    probe_id: str = "query_id",
    probe_emb: str = "query_embedding",
    codes: DataFrame | None = None,
    probed: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the composite Faiss index
    (Jégou et al. TPAMI 2011 §IV; the `IndexIVFPQ` everyone runs at
    billion scale): a coarse quantizer routes each vector to its
    nearest centroid cell, PQ encodes the RESIDUAL (vector − cell
    centroid) rather than the raw vector — residuals concentrate near
    the origin, so the same codebook budget spends its resolution
    where the data actually lives — and a query scans only its
    `n_probe` nearest cells with a PER-CELL ADC lookup table built
    from the query's residual against that cell.

    Returns (query_id, rank, neighbor_id, cell, adc_dist).

    Why this matters at 100 TB: IVF alone still reads raw vectors in
    the probed cells (256 B/vector at dim=64 float32); PQ alone scans
    every code. IVF-PQ reads codes only (m bytes/vector), only in the
    probed cells — |corpus| × n_probe/n_cells × m bytes per query.

    This is the SQL form, the one the oracle-replayed rows run
    (`ivfpq_topk`, `ivfpq_recall`, `hybrid_search_ivfpq`). The numpy
    form of the same search — `ivfpq_probes` + `pq_adc_topk(cells=)`
    over `_ivfpq_codes_arrow` codes, the arithmetic of the
    collection's `pq_pooled_topk` — returns the same (query_id, id,
    adc_dist) rows on the same codes and probes (tests/test_ivfpq.py).

    Physical shape (all DataFrame, oracle-replayable):
    * cell assignment: one map-side `least(struct(...))` expression
      over broadcast centroid literals (operators/ivf.py:assign_cells)
      — no shuffle;
    * residuals: broadcast join on the ≤|cells| centroid relation,
      `zip_with` subtract (exact binary doubles both engines share);
    * encode: per-subspace least-struct argmin (_codes_long, one
      shuffle-free codegen stage), packed to an m-int array per
      candidate by one tiny-row exchange (ivfpq_codes_df — the same
      relation the persisted tier stores);
    * search: the LUT is flattened to ONE m*k-double array per
      (query, probed cell) and broadcast; candidates join on `cell`
      only, so each probed-cell code row is touched exactly once and
      its ADC distance is an unrolled m-lookup in-order fold
      (round-6 + -0.0, the bm25 discipline — _adc_fold_sql) inside
      codegen; the final top-k is one bounded per-query window.

    Determinism contract: `centroids` is a driver-tiny list (the
    persisted index artifact; lowest-id placeholder or trained
    k-means — same as ivf_topk), codebooks may be `hash_codebooks`
    (data-independent md5 literals) for full SQL replay or trained.
    Zero-norm and NULL embeddings are unscorable under the cosine
    coarse quantizer and are dropped on both the item and probe side
    (the ann_recall universe rule).

    `codes`: optional precomputed `ivfpq_codes_df` output (the
    materialized 100 TB scan tier — id, cell, codes ARRAY<INT>);
    when given, the assignment+encode stages are skipped entirely and
    the search reads m bytes per candidate instead of raw vectors.
    """
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m, kk, sub = books.shape
    dim = m * sub
    cent_df = _cells_df(items.sparkSession, centroids)

    if codes is None:
        codes = ivfpq_codes_df(
            items, books, centroids, item_id=item_id, item_emb=item_emb,
            cent_df=cent_df,
        )
    codes = codes.select(
        F.col(item_id).alias("_vid"),
        F.col("cell").cast("int").alias("cell"),
        "codes",
    )

    if probes is None:
        raise ValueError("ivfpq_adc_topk_df: probes DataFrame required")
    if probed is None:
        # `probed`: optional precomputed ivfpq_probe_cells output
        # (_qid, cell, _qr) — _collect_probe_cells' DataFrame, from a
        # caller that already collected the assignment to prune a
        # cell-partitioned code tier
        probed = ivfpq_probe_cells(
            probes,
            centroids,
            n_probe=n_probe,
            dim=dim,
            probe_id=probe_id,
            probe_emb=probe_emb,
            cent_df=cent_df,
        )
    lut = _lut_flat(
        probed.selectExpr("_qid", "cell", _subspace_sql("_qr", m, sub)),
        ["_qid", "cell"],
        books,
    )
    # codes stay PACKED: the broadcast join on cell already restricts
    # the scan to probed-cell candidates, and the ADC distance is an
    # unrolled m-lookup codegen fold per candidate row — no m-way
    # explode of the code tier, no collect_list aggregate behind the
    # distance (same in-order doubles; _adc_fold_sql).
    adc = codes.join(F.broadcast(lut), "cell").selectExpr(
        "_qid",
        "_vid",
        "cell",
        f"{_adc_fold_sql(m, kk, DIST_DECIMALS)} AS adc_dist",
    )
    wq = Window.partitionBy("_qid").orderBy(
        F.col("adc_dist").asc(), F.col("_vid").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(probe_id),
            F.col("rank").cast("long").alias("rank"),
            F.col("_vid").alias("neighbor_id"),
            F.col("cell").cast("int").alias("cell"),
            "adc_dist",
        )
    )
