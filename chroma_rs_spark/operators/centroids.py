"""Per-label embedding centroids, nearest-centroid assignment, and the
engine's one Lloyd's k-means loop.

`label_centroids` averages an embedding column per group and
`assign_nearest_centroid` re-assigns rows to their nearest centroid.
`_lloyd` is the fused fixed-point iteration behind every
SQL-replayable trained index: `kmeans` (IVF centroids, SemDeDup
clusters) runs it over one group and
`operators/pq.py:train_pq_codebooks_df` runs it grouped by subspace.
The collection's PQ and IVF-PQ builds train on a collected sample with
the numpy loop instead (operators/kernel.py:lloyd).
`_md5_sample` is the one training-sample and seed rule.

Cross-engine determinism: float averages are partition-order-dependent
in any parallel engine, so the accumulation here is fixed-point —
each component is scaled to an exact integer of micro-units
(round(x * 1e6), identical IEEE ops in Spark and DuckDB) and summed
exactly (decimal(38,0) ≡ DuckDB's int128 sum), making the centroid a
deterministic function of the data, not of the partitioning. The same
rationale as functions/money.py, applied to unit-scale floats; 1e-6
quantization is far below embedding noise.

Scale: posexplode keeps rows narrow (label, pos, micro) and the
aggregate is map-side combinable; shuffle volume is
|labels| × dim × |partitions| partial sums, independent of row count.
Assignment broadcasts the (tiny) centroid matrix and is a map-side
dot product — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chroma_rs_spark.session import local_frame

MICRO = 1_000_000.0


def _md5_order(id_col: str) -> list:
    """(md5(id), id): the engine's one deterministic uniform row order
    — data-independent, and any SQL engine reproduces it."""
    return [F.md5(F.col(id_col).cast("string")), F.col(id_col)]


def _md5_sample(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """The `n` rows of `df` with the smallest (md5(id), id): the one
    training-sample and seed rule of k-means, IVF and PQ."""
    return df.orderBy(*_md5_order(id_col)).limit(int(n))


def _sq_dist(vec_col: str, dim: int | None):
    """Squared L2 between `vec_col` and the broadcast `cvec`, rounded
    to 6 decimals with -0.0 folded — rounding before the argmin makes
    ties (and the lower-label tie-break) identical across engines.

    With `dim` known the fold is unrolled into whole-stage codegen
    (HOF lambdas evaluate interpreted); both forms multiply
    (a-b)*(a-b) and add left to right, so the doubles are bit-identical.
    """
    v = F.col(vec_col).cast("array<double>")
    if dim is not None:
        def term(i: int):
            d = F.element_at(v, i) - F.element_at(F.col("cvec"), i)
            return d * d

        sq = term(1)
        for i in range(2, dim + 1):
            sq = sq + term(i)
    else:
        sq = F.aggregate(
            F.zip_with(v, F.col("cvec"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    return F.round(sq, 6) + F.lit(0.0)


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(label, pos, centroid, n_vectors): per-label mean of each
    embedding component, in long form (one row per component — the
    shape that joins/compares cleanly across engines).

    Numeric domain: components are accumulated in micro-units
    (round(x * 1e6)) on DECIMAL(38,0) — exact to |x| ~ 1e31 with
    ~1e12-row groups. Real embedding domains (unit-normalized or
    small pre-trained floats) sit ~30 orders of magnitude inside the
    bound; values beyond it raise Spark's ANSI overflow loudly rather
    than silently truncating (tests/test_fuzz_corpus.py pins the
    realistic-domain behavior bit-exactly).

    The quantization is pinned to micro-units (6 decimals): it is part
    of the cross-engine contract with every oracle replay, so it is
    deliberately not a parameter.
    """
    e = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "_val"),
    )
    micro = F.round(F.col("_val").cast("double") * F.lit(MICRO)).cast(
        "decimal(38,0)"
    )
    g = e.groupBy("label", "pos").agg(
        F.sum(micro).alias("_s"), F.count(F.lit(1)).alias("n_vectors")
    )
    # Rounded mean computed EXACTLY in integer micro-units:
    # q = round_half_away_from_zero(s / n) = sign(s) * ((2|s| + n) div 2n),
    # all integer ops (decimal(38,0) / HUGEINT in the oracle replays), then
    # one correctly-rounded IEEE divide by 1e6 — identical doubles in every
    # engine BY CONSTRUCTION. The previous round(s/(n*1e6), 6) double form
    # diverged at exact half-boundaries: Spark's Round works on the double's
    # SHORTEST decimal repr (BigDecimal.valueOf) while DuckDB rounds near the
    # exact binary value, so s/n = ...xxx.5 micro-units (e.g. s=-1675414,
    # n=52 in the round-6 semantic_dedup twin corpus) flipped the 6th decimal
    # between engines. Away from halves the two forms are bit-identical.
    q = F.expr("(2 * abs(_s) + n_vectors) div (2 * n_vectors)")
    sgn = F.when(F.col("_s") < 0, F.lit(-1)).otherwise(F.lit(1))
    centroid = (sgn * q).cast("double") / F.lit(MICRO)
    # + 0.0 canonicalizes -0.0 (the repo-wide rounding contract,
    # tests/test_distance_rounding.py)
    return g.select(
        "label",
        # bigint pos: posexplode emits int32, SQL engines' generate_series
        # emit int64 — pin the wider type so oracle hashes stay type-exact
        F.col("pos").cast("long").alias("pos"),
        (centroid + F.lit(0.0)).alias("centroid"),
        "n_vectors",
    )


def assign_nearest_centroid(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, assigned_label, sq_dist): nearest centroid by squared
    L2. `centroids` is label_centroids() output (long form); it is
    pivoted to one array per label and broadcast — rows never shuffle.

    Pass `dim` to unroll the squared distance into whole-stage codegen
    (see _sq_dist).
    """
    mats = (
        centroids.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "centroid"))
            ).alias("_pc")
        )
        .select(
            "label",
            F.transform("_pc", lambda x: x["centroid"]).alias("cvec"),
        )
    )
    scored = (
        emb.select(id_col, vec_col)
        .crossJoin(F.broadcast(mats))
        .select(
            id_col,
            F.col("label").alias("assigned_label"),
            _sq_dist(vec_col, dim).alias("sq_dist"),
        )
    )
    best = scored.groupBy(id_col).agg(F.min(F.struct("sq_dist", "assigned_label")).alias("_b"))
    return best.select(
        id_col,
        F.col("_b.assigned_label").alias("assigned_label"),
        F.col("_b.sq_dist").alias("sq_dist"),
    )


def kmeans(
    emb: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """DataFrame-native Lloyd's k-means: _lloyd over the whole corpus
    as one group, seeded with the k rows of smallest (md5(id), id).

    Returns (assignment, centroids): (vec_id, assigned_label, sq_dist)
    and the long-form (label, pos, centroid, n_vectors). `assignment`
    is the E-step of the LAST EXECUTED iteration (against the
    centroids that produced the final assignment — on max_iter
    exhaustion that is the second-to-last centroid state), rebuilt
    lazily through assign_nearest_centroid; `centroids` is the final
    M-step in label_centroids long form.

    At 100 TB: per iteration the E-step broadcasts k×dim doubles and
    never shuffles the corpus; the M-step shuffles only the
    |labels|×dim×partitions partial sums.
    """
    # Spread a narrow input across the cores ONCE for the whole loop:
    # the E-step does k x dim interpreted work PER ROW, so a
    # single-file corpus (1 scan partition) would serialize the loop's
    # hot path on one core while the rest idle, and the eager
    # checkpoint stops each iteration re-running the upstream plan.
    # Bit-safe: the E-step is per-row, the M-step's decimal sums and
    # the seed sort are partitioning-independent.
    from chroma_rs_spark.plans.partitioning import spread_compute

    emb = spread_compute(emb)
    rows = emb.select(id_col, vec_col)
    state, assign_state = _lloyd(
        rows, _md5_sample(rows, id_col, k), k, max_iter, dim=dim
    )
    spark = emb.sparkSession
    schema = "label int, pos long, centroid double, n_vectors long"
    assign = assign_nearest_centroid(
        emb,
        local_frame(spark, assign_state, schema),
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    )
    return assign, local_frame(spark, state, schema)


def _lloyd(
    rows: DataFrame,
    seeds: DataFrame,
    k: int,
    max_iter: int,
    group: tuple[str, ...] = (),
    dim: int | None = None,
) -> tuple[list[tuple], list[tuple]]:
    """Fixed-point Lloyd's iteration over pinned `(id, *group, vec)`
    rows; every `group` value clusters independently, all of them in
    the same Spark job (kmeans runs one group, PQ one per subspace).

    `seeds` has the same columns and holds, per group, the k rows of
    smallest (md5(id), id); they are labelled 0..k-1 in that order.

    ONE Spark job per iteration: E-step scoring against the broadcast
    centroid matrices, the M-step micro-unit sums per
    (*group, label, pos) and the convergence signature
    bit_xor(xxhash64(id, *group, label)) run as one aggregation, whose
    k x dim result rows are collected. Every ROUNDING decision happens
    in Spark with the exact expressions label_centroids and
    assign_nearest_centroid use; the centroid update on the driver is
    the label_centroids integer mean, q = sign * ((2|S| + n) div 2n),
    then one IEEE divide by 1e6 — pure integer math on the exact
    decimal sums, so SQL oracles that unroll the loop replay it
    bit-for-bit. Stops when an iteration reassigns no row (the
    fixpoint an unrolled replay always equals).

    Returns (state, assign_state): sorted driver tuples
    (*group, label, pos, centroid, n_vectors) after the last M-step,
    and at the start of the last executed iteration (what its E-step
    scored against). A cluster that empties drops out of the state.
    """
    if k < 1:
        raise ValueError(f"k-means: k must be >= 1, got {k}")
    if max_iter < 1:
        raise ValueError(f"k-means: max_iter must be >= 1, got {max_iter}")
    spark = rows.sparkSession
    id_col, vec_col = rows.columns[0], rows.columns[-1]
    g = list(group)
    micro = F.round(F.col("_val").cast("double") * F.lit(MICRO)).cast(
        "decimal(38,0)"
    )

    def m_step(labelled: DataFrame, *sig) -> list:
        # (*group, label, [sig cols,] vec) -> exact per-(label, pos)
        # micro-unit sums, collected
        return (
            labelled.select(
                *labelled.columns[:-1],
                F.posexplode(labelled.columns[-1]).alias("pos", "_val"),
            )
            .groupBy(*g, "label", "pos")
            .agg(F.sum(micro).alias("_s"), F.count(F.lit(1)).alias("n"), *sig)
            .collect()
        )

    def update(sums: list) -> list[tuple]:
        st = []
        for r in sums:
            s, n = int(r["_s"]), int(r["n"])
            q = (2 * abs(s) + n) // (2 * n)
            mean = float(-q if s < 0 else q) / MICRO + 0.0
            key = tuple(int(r[col]) for col in (*g, "label", "pos"))
            st.append((*key, mean, n))
        return sorted(st)

    def matrices(st: list[tuple]) -> DataFrame:
        # the state is sorted, so each label's components arrive in pos order
        cvecs: dict[tuple, list[float]] = {}
        for *key, _pos, mean, _n in st:
            cvecs.setdefault(tuple(key), []).append(mean)
        return local_frame(
            spark,
            [(*key, cvec) for key, cvec in cvecs.items()],
            "".join(f"{col} int, " for col in g) + "label int, cvec array<double>",
        )

    # seeds labelled in (md5(id), id) order WITHOUT a window: one
    # aggregate per group over its <= k seed rows, array_sort on the
    # (md5, id, vec) structs (struct comparison is field-order
    # lexicographic), posexplode's position is the label. No
    # WindowExec — an unpartitioned window would re-emit the
    # single-partition warning every call. The seed centroid is the
    # M-step over n = 1 rows: the micro-rounded seed components.
    seeded = (
        seeds.groupBy(*g)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(*_md5_order(id_col), F.col(vec_col).alias("_v"))
                )
            ).alias("_xs")
        )
        .select(*g, F.posexplode("_xs").alias("label", "_x"))
        .select(*g, "label", F.col("_x._v").alias(vec_col))
    )
    state = update(m_step(seeded))

    assign_state, prev_sig = state, None
    for _ in range(max_iter):
        assign_state = state
        best = (
            rows.join(F.broadcast(matrices(state)), g or None)
            .select(
                id_col, *g, vec_col, "label", _sq_dist(vec_col, dim).alias("_d")
            )
            .groupBy(id_col, *g)
            .agg(
                F.min(F.struct("_d", "label")).alias("_b"),
                # every one of an id's k scored copies carries the same
                # vector, so first() is deterministic here
                F.first(vec_col).alias(vec_col),
            )
        )
        sums = m_step(
            best.select(
                *g,
                F.col("_b.label").alias("label"),
                F.xxhash64(id_col, *g, "_b.label").alias("_hh"),
                vec_col,
            ),
            F.bit_xor("_hh").alias("_x"),
        )
        # per-(group, label, pos=0) partial xors fold to the global
        # bit_xor(xxhash64(id, *group, label)) over every row
        sig = 0
        for r in sums:
            if int(r["pos"]) == 0:
                sig ^= int(r["_x"]) & ((1 << 64) - 1)
        if sig == prev_sig:
            break
        prev_sig = sig
        state = update(sums)
    return state, assign_state
