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
  bounded-shuffle shape and arithmetic as knn.knn_exact).
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
  `pq_topk_rescored_df` is the same search with a SQL join rescore,
  the chain the declared `pq_topk` row runs.
* **IVF-PQ** — the composite index (Jégou et al. TPAMI 2011 §IV, the
  `IndexIVFPQ` behind billion-scale Faiss): a cosine coarse quantizer
  routes each vector to a cell, PQ encodes its RESIDUAL against the
  cell's centroid (residuals concentrate near the origin, so the
  codebook budget spends its resolution where the data lives), and a
  query scans only its `n_probe` nearest cells with one lookup table
  of its residual per probed cell — m code bytes per vector, only in
  the probed cells. `ivfpq_probes` picks the cells on the driver,
  `_ivfpq_codes_arrow` encodes (kernel.encode_rows) and
  `pq_adc_topk(cells=)` scores (kernel.adc).

Each op has one form, the numpy one, in one arithmetic: every sum is
an in-order fold from 0.0 (kernel.fold_*), every distance is rounded
to DIST_DECIMALS with Spark ROUND's HALF_UP (kernel.rounded_half_up)
before an argmin or a ranking, and ties break low (code, cell, then
id). That is the arithmetic the suite rows' DuckDB oracles replay
(`list_sum`, `round`, `row_number() OVER (ORDER BY d, id)`), so the
oracle is the direct reference for the code the collection runs: the
plain-PQ and IVF-PQ codes, the lookup tables, the ADC sums and the
probed cells are the same in both.

Verification: tests/test_pq.py and tests/test_ivfpq.py pin encode
codes, probed cells and ADC distances bit for bit against pure-numpy
references, DuckDB replays and hand-derived halves, and check
determinism; tests/test_collection_pq.py holds the exact re-scored
distances and the measured recall band end to end. Every suite row
is oracle-checked: `pq_adc_topk` and `pq_recall` search over
`hash_codebooks` (data-independent md5-derived literals a DuckDB
oracle embeds verbatim), the IVF-PQ rows over those codebooks and
the lowest-id cells, and `pq_topk` runs the TRAINED chain end to end
— `train_pq_codebooks_df` is kmeans' fixed-point Lloyd's loop
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

    One shuffle-free Arrow pass (kernel.encode_rows): the argmin of the
    rounded in-order squared-L2 fold, ties to the lower code — the
    codes `_ivfpq_codes_arrow` assigns to residuals and the DuckDB
    oracles replay. NULL and wrong-dim rows (not m*sub long) drop, as
    in `_ivfpq_codes_arrow`. `unit=True` encodes the unit vectors
    (kernel.unit_rows; zero-norm rows drop), as in
    `train_pq_codebooks`.
    """
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks, dtype=np.float64)
    m, _k, sub = books.shape

    def encode(pdf):
        emb = kernel.matrix(pdf[item_emb])
        rows, _, codes = kernel.encode_rows(emb, books, unit=unit)
        return pd.DataFrame({"id": pdf[item_id].to_numpy()[rows], "codes": list(codes)})

    out = items.filter(
        F.col(item_emb).isNotNull() & (F.size(item_emb) == m * sub)
    ).select(item_id, item_emb)
    return kernel.map_batches(out, encode, f"id {id_type}, codes array<int>")


def ivfpq_probes(
    centroids: list[tuple[int, list[float]]],
    queries: Sequence[tuple],
    n_probe: int,
) -> list[np.ndarray]:
    """The IVF-PQ probe selection for a driver-side query list: per
    query, the cell ids of its `n_probe` nearest cells
    (kernel.probe_cells — ties to the lower cell id; unscorable
    queries probe no cell). The cosine distance is
    `round(1 - dot / (|q| |c|), 6) + 0.0` with dot and norms folded in
    position order and Spark ROUND's HALF_UP, the arithmetic the
    oracle's probe ranking replays. Pass the result, with the same
    `centroids`, as `pq_adc_topk(cells=...)`."""
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
    """(m, k, n) ADC lookup tables of the n rows of `resid` (n, m*sub):
    plain-PQ query vectors or IVF-PQ query residuals. Each subspace
    distance is kernel.fold_l2's in-order fold rounded to DIST_DECIMALS
    with Spark ROUND's HALF_UP (kernel.rounded_half_up) — the
    encode's own distance (kernel.residual_codes), so a query's LUT
    entry for its own code is the distance the encode minimized."""
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
    """(query_id, rank, id[, cell], adc_dist): approximate top-k by ADC
    over PQ codes (id, codes[, cell]). `queries` is a driver-side list
    of (qid, vector) — small by contract, like every probe set in the
    engine; each vector must be m*sub long (callers drop NULL and
    wrong-dim probes).

    The LUTs are built once on the driver (`_adc_tables`, _fold_luts)
    and shipped in the task closure; a candidate's distance is the sum
    of its m lookups, accumulated in subspace order from 0.0 and
    rounded with Spark ROUND's HALF_UP (kernel.adc). Local top-k per
    Arrow batch (kernel.topk_rows) and the window merge
    (kernel.merge_topk) rank by (distance, id) — the engine-wide
    determinism contract and the DuckDB oracles' ORDER BY.

    Plain PQ (`cells=None`) is the one-cell case: each query has one
    LUT, of its own vector, and every code row is a candidate.

    IVF-PQ (`cells=(centroids, probed)`, `probed` from `ivfpq_probes`):
    the codes carry a `cell` column and encode residuals against that
    cell's centroid (`_ivfpq_codes_arrow`). Each (query, probed cell)
    pair has its own LUT of the query's residual against the cell;
    code rows outside a query's probed cells are no candidates of it.
    The output then carries each candidate's `cell`. The collection's
    `pq_pooled_topk` scores with the same tables (`_adc_tables`,
    kernel.adc).
    """
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks, dtype=np.float64)
    qids = [q[0] for q in queries]
    tables = _adc_tables(books, queries, cells)

    def score(pdf):
        ids = pdf["id"].to_numpy()
        codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
        cell = None if cells is None else pdf["cell"].to_numpy()
        d, probed = kernel.adc(*tables, codes, cell)
        tops = kernel.topk_rows(ids, d, k, mask=probed)
        frames = [
            pd.DataFrame(
                {"query_id": qid, "id": ids[top]}
                | ({} if cell is None else {"cell": cell[top]})
                | {"adc_dist": d[top, j]}
            )
            for j, (qid, top) in enumerate(zip(qids, tops))
            if top.size
        ]
        return pd.concat(frames, ignore_index=True) if frames else None

    schema = f"query_id long, id {id_type}, " + ("" if cells is None else "cell int, ")
    cands = kernel.map_batches(codes, score, schema + "adc_dist double")
    return kernel.merge_topk(cands, k, "query_id", "id", "adc_dist")


def _adc_tables(books, queries: Sequence[tuple], cells: tuple | None):
    """(luts, cids, slots) of `kernel.adc` for the driver-side (qid,
    vector) `queries`, every LUT built by _fold_luts. Plain PQ (`cells`
    None): one LUT per query, of its own vector. IVF-PQ (`cells` =
    (centroids, probed) from `ivfpq_probes`): one LUT per (query,
    probed cell), of the query's residual against that cell."""
    import numpy as np

    m, _k, sub = books.shape
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64).reshape(-1, m * sub)
    if cells is None:
        # (m, k, nq) LUTs; query j reads slot j from every code row
        return _fold_luts(books, qmat), None, np.arange(len(qmat))[None, :]
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
      `kernel.rounded_half_up` — `knn_exact`'s arithmetic on
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
    """Production PQ search with an exact rescore, end to end
    oracle-replayable: the numpy PQ search (`pq_encode` +
    `pq_adc_topk`) retrieves k*oversample candidates per probe, the
    id-join against the raw vectors re-scores them with the exact
    round-6 squared L2, and the final top-k ranks on exact distances
    (ties to the lower id). With `codebooks` from
    train_pq_codebooks_df every stage — training included — replays in
    DuckDB (the declared `pq_topk` row). The probes are collected to
    the driver, the probe list `pq_adc_topk` takes (small by contract);
    NULL and wrong-dim probes drop.

    Returns (probe_id, rank, neighbor_id, distance)."""
    import numpy as np

    from chroma_rs_spark.functions.vector import l2_distance

    books = np.asarray(codebooks, dtype=np.float64)
    m, _k, sub = books.shape
    queries = [
        (r[0], [float(x) for x in r[1]])
        for r in probes.filter(
            F.col(probe_emb).isNotNull() & (F.size(probe_emb) == m * sub)
        )
        .select(probe_id, probe_emb)
        .collect()
    ]
    id_type = dict(items.dtypes)[item_id]
    cand = pq_adc_topk(
        pq_encode(items, books, item_id, item_emb, id_type),
        books,
        queries,
        k=int(k) * int(oversample),
        id_type=id_type,
    ).select(F.col("query_id").alias(probe_id), F.col("id").alias("neighbor_id"))
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
    (mi, sv) subspace rows — train_pq_codebooks_df's training
    relation and seeds."""
    return "inline(array({}))".format(
        ",".join(
            f"struct({mi} AS mi, slice(`{emb_col}`, {mi * sub + 1}, {sub})"
            " AS sv)"
            for mi in range(m)
        )
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
    arithmetic the collection stores in its rows (`stored_codes`), runs
    on late rows at query time (`pq_pooled_topk`) and the IVF-PQ suite
    rows persist as their cell-partitioned code tier.

    Cells and residuals come from kernel.assign_residuals, and each
    subspace code is the argmin of the round-6 in-order squared-L2
    fold, ties to the lower code (kernel.residual_codes, `pq_encode`'s
    code rule), which the DuckDB oracle replays. Zero-norm, NULL and
    wrong-dim vectors have no cosine cell and drop. `unit=True`
    encodes the unit vectors (kernel.unit_rows), as in `pq_encode`:
    the collection passes its raw rows, so no SQL higher-order
    function normalizes them in its plans."""
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
