"""Streaming ingestion into a collection (SURVEY.md §2.3 [EXT]
streaming x §2.2 A1: `add` as a continuous process).

`stream_add` wires a streaming DataFrame of item-shaped rows into a
collection through `foreachBatch`: each micro-batch is de-duplicated
against the collection's existing ids (left-anti join on the id
column only — Catalyst prunes everything else from the existing-side
scan) and appended via the same `add_df` bulk path batch callers use.

Replay safety: Structured Streaming may re-deliver a batch after a
failure; the anti-join makes re-adding a no-op, so the sink is
idempotent at the id level — effectively exactly-once for immutable
items — without any transactional storage. The checkpoint directory
lives beside the collection data, so a restarted stream resumes its
offsets.

Scale: each micro-batch is one distributed append; the anti-join
shuffles only ids. At 100 TB the existing-side id scan benefits from
parquet column pruning (a few % of collection bytes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from chroma_rs_spark.catalog import Collection, Engine


def stream_add(
    engine: Engine,
    coll: Collection,
    stream_items: DataFrame,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Start a streaming query appending `stream_items` to `coll`.

    `stream_items` columns: id, embedding[, document][, metadata].
    Returns the StreamingQuery handle (awaitTermination is the
    caller's choice). `available_now=True` drains the currently
    available input and stops — the batch-backfill mode; pass False
    for a continuously running ingest.
    """
    from chroma_rs_spark import collection as item_ops

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        existing = item_ops.items_df(engine, coll).select("id")
        # dedup within the batch too — one trigger can deliver several
        # files carrying the same id, and the anti-join only sees ids
        # already persisted
        fresh = batch_df.dropDuplicates(["id"]).join(existing, "id", "left_anti")
        # cache: the emptiness probe and the append below would
        # otherwise each run the anti-join against the collection scan
        fresh.persist()
        try:
            if fresh.take(1):
                item_ops.add_df(engine, coll, fresh)
        finally:
            fresh.unpersist()

    checkpoint = checkpoint_dir or os.path.join(
        engine.collection_dir(coll.id), "_ingest_checkpoint"
    )
    writer = (
        stream_items.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_ingest(
    spark,
    stream_docs: DataFrame,
    corpus_dir: str,
    index_dir: str,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    num_hashes: int = 16,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None | str = "auto",
):
    """Continuously ingest documents with near-duplicate dedup against
    the ALREADY-INGESTED corpus — the daily-crawl shape every public
    curation pipeline runs (RefinedWeb/Dolma: new snapshot arrives,
    dedup it against the accumulated corpus, append only the novel
    docs) expressed as one Structured Streaming query.

    Per micro-batch (foreachBatch):
      1. replay safety: drop in-batch id duplicates, then anti-join on
         the corpus's ids — a re-delivered batch is a no-op at the id
         level, same contract as `stream_add`;
      2. mine candidate pairs with `incremental_minhash_pairs` against
         the PERSISTED band index (never re-reads old text; the
         hot-bucket ``max_bucket="auto"`` guard applies);
      3. reject policy — "corpus wins, then min-id wins": a new doc
         near-dupping ANY indexed doc (est_jaccard >= threshold) is
         dropped; the remaining new-vs-new pairs are clustered
         (connected components, the transitive convention all dedup
         here uses) and only each cluster's min-id member survives.
         Note the transitive consequence: if X hits the corpus and Y's
         only near-dup link is to X, Y is still dropped — X's cluster
         is represented in the corpus;
      4. append survivors to ``corpus_dir`` (parquet, full input
         schema) and their `minhash_band_index` rows to ``index_dir``.

    Durability note (two-write commit gap): the corpus append lands
    BEFORE the index append, so a crash between them leaves docs in
    the corpus whose index rows are missing. On replay those docs are
    anti-joined away (no duplicates, no self-pairs — the incremental
    miner's disjoint-ids contract holds) but future duplicates OF
    those docs would not be caught until the index is repaired:
    ``minhash_band_index(corpus.join(index_ids, anti))`` appended to
    the index dir is the one-line repair. The reverse order would be
    worse — index rows for absent docs make every replayed batch
    self-collide and reject forever.

    Scale: the index is |corpus| x bands narrow rows; each batch joins
    only its own band keys against it (band_key-partitionable), and
    the appended text is survivors-only.
    """
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from chroma_rs_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_band_index,
    )
    from chroma_rs_spark.operators.graph import dedup_clusters

    index_schema = "id long, band int, band_key long"

    def _read_or_empty(path: str, schema) -> DataFrame:
        # explicit schema on the read path too: both callers know their
        # schema exactly (the stream's input schema / the band-index
        # layout), and schema inference costs a footer-read job per
        # batch per table — pure dispatch-floor waste inside the
        # per-microbatch hot path
        try:
            return spark.read.schema(schema).parquet(path)
        except AnalysisException:
            return spark.createDataFrame([], schema)

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch = batch_df.dropDuplicates([id_col])
        corpus_ids = _read_or_empty(corpus_dir, batch_df.schema).select(
            id_col
        )
        fresh = batch.join(corpus_ids, id_col, "left_anti").localCheckpoint()
        if not fresh.take(1):
            return
        index = _read_or_empty(index_dir, index_schema)
        # compute every fresh doc's band signature ONCE per batch
        # (md5-over-shingles is the batch's dominant compute term) and
        # share it between the pair miner and the index append below —
        # the previous shape ran the signature pipeline twice
        batch_idx = minhash_band_index(
            fresh,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
        ).localCheckpoint()
        pairs = incremental_minhash_pairs(
            fresh,
            index,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
            max_bucket=max_bucket,
            new_index=batch_idx,
        ).filter(F.col("est_jaccard") >= F.lit(float(threshold)))
        pairs = pairs.localCheckpoint()
        # corpus wins: exactly one side of a vs_corpus pair is fresh
        fresh_ids = fresh.select(F.col(id_col).alias("_fid"))
        ch = pairs.filter(F.col("vs_corpus"))
        corpus_hit = (
            ch.select(F.col("id_a").alias("_fid"))
            .unionByName(ch.select(F.col("id_b").alias("_fid")))
            .join(fresh_ids, "_fid", "left_semi")
            .distinct()
            .withColumnRenamed("_fid", id_col)
        )
        # then min-id wins within the batch's own near-dup clusters
        nn = pairs.filter(~F.col("vs_corpus"))
        keep_nn = dedup_clusters(
            fresh, nn, id_col=id_col, threshold=threshold, lazy_local=True
        ).filter(F.col("keep")).select(id_col)
        survivors = (
            fresh.join(keep_nn, id_col, "left_semi")
            .join(corpus_hit, id_col, "left_anti")
            .localCheckpoint()
        )
        if not survivors.take(1):
            return
        survivors.write.mode("append").parquet(corpus_dir)
        # survivors' index rows = a filter of the checkpointed batch
        # index, not a second signature pass
        batch_idx.join(
            survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
        ).write.mode("append").parquet(index_dir)

    checkpoint = checkpoint_dir or _os.path.join(
        _os.path.dirname(corpus_dir.rstrip("/")), "_dedup_ingest_checkpoint"
    )
    writer = (
        stream_docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_cms_ingest(
    spark,
    stream_docs: DataFrame,
    sketch_dir: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 4096,
    shingle_k: int = 3,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Maintain a count-min frequency sketch over a document stream —
    the corpus-drift monitor shape: each micro-batch appends its OWN
    depth×width sketch segment to ``sketch_dir`` (LSM-style; readers
    merge segments with one groupBy-sum, the sketch's cellwise-sum
    merge law). No read-modify-write cycle, so a replayed batch at
    worst re-appends an identical segment — and because the segment is
    keyed by nothing batch-specific, the merged COUNTS only stay exact
    under exactly-once batch delivery; for the monitor use case an
    over-count from a rare replay is within the sketch's one-sided
    error model anyway.

    Scale: a segment is ≤ depth×width narrow rows regardless of batch
    size; compaction (rewrite the dir as its own merge) is the same
    groupBy — run it whenever segment count grows past a few hundred.
    """
    import os as _os

    from pyspark.sql import functions as F

    from chroma_rs_spark.operators.dedup import exploded_shingles
    from chroma_rs_spark.operators.sketch import cms_build

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        items = exploded_shingles(
            batch_df.filter(F.col(text_col).isNotNull()),
            id_col=batch_df.columns[0],
            text_col=text_col,
            k=shingle_k,
        )
        seg = cms_build(items, "shingle", depth=depth, width=width)
        seg.write.mode("append").parquet(sketch_dir)

    checkpoint = checkpoint_dir or _os.path.join(
        _os.path.dirname(sketch_dir.rstrip("/")), "_cms_ingest_checkpoint"
    )
    writer = (
        stream_docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_cms(spark, sketch_dir: str) -> DataFrame:
    """Merge all persisted sketch segments: (row, bucket, cnt)."""
    from pyspark.sql import functions as _F

    from chroma_rs_spark.collection import _recover_interrupted_overwrite

    _recover_interrupted_overwrite(sketch_dir.rstrip("/"))
    return (
        spark.read.schema("row int, bucket long, cnt long")
        .parquet(sketch_dir)
        .groupBy("row", "bucket")
        .agg(_F.sum("cnt").cast("long").alias("cnt"))
    )


def stream_bloom_ingest(
    spark,
    stream_docs: DataFrame,
    bloom_dir: str,
    text_col: str = "text",
    k: int = 3,
    m: int = 8192,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Maintain a Bloom membership filter over a document stream — the
    streaming half of the Dolma/CCNet paragraph-dedup pre-filter
    (`bloom_dedup`): each micro-batch appends its OWN set-bit-position
    segment (LSM-style, like stream_cms_ingest); readers merge segments
    with one DISTINCT — Bloom's merge law is bitwise OR, which on the
    bit-positions-as-rows representation is exactly set union. The
    stream-final merged filter is therefore bit-equal to the batch
    filter over the same corpus regardless of batching/order, and a
    replayed batch re-appends an already-present subset (harmless under
    OR — unlike the CMS, a Bloom replay cannot even overcount).

    Scale: a segment is ≤ min(k·|batch|, m) narrow int rows; compaction
    = rewrite the dir as its own distinct.
    """
    import os as _os

    from pyspark.sql import functions as F

    from chroma_rs_spark.operators.sketch import bloom_build

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        seg = bloom_build(
            batch_df.filter(F.col(text_col).isNotNull()),
            text_col=text_col,
            k=k,
            m=m,
        )
        seg.write.mode("append").parquet(bloom_dir)

    checkpoint = checkpoint_dir or _os.path.join(
        _os.path.dirname(bloom_dir.rstrip("/")), "_bloom_ingest_checkpoint"
    )
    writer = (
        stream_docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_bloom(spark, bloom_dir: str) -> DataFrame:
    """Merge all persisted filter segments: (pos) distinct set bits."""
    from chroma_rs_spark.collection import _recover_interrupted_overwrite

    _recover_interrupted_overwrite(bloom_dir.rstrip("/"))
    return (
        spark.read.schema("pos long").parquet(bloom_dir).distinct()
    )


def repair_band_index(
    spark,
    corpus_dir: str,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 16,
    shingle_k: int = 3,
) -> int:
    """Heal stream_dedup_ingest's two-write commit gap: docs whose
    corpus append landed but whose index append did not (crash between
    the two writes) are invisible to future near-dup mining until their
    band rows exist. This is the executable form of the one-line repair
    the stream_dedup_ingest docstring describes — anti-join the corpus
    ids against the index ids, re-sign exactly the missing docs with
    the SAME signature parameters the stream used, append their rows.
    Idempotent (a second run appends nothing) and safe to run while
    the stream is stopped between triggers. Returns the number of docs
    repaired.

    Callers own parameter consistency: num_hashes/bands/shingle_k must
    match the stream's, else the appended rows key a different band
    space and candidate mining silently misses (the same contract the
    incremental miner itself documents).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from chroma_rs_spark.operators.dedup import minhash_band_index

    try:
        corpus = spark.read.parquet(corpus_dir)
    except AnalysisException:
        return 0
    index_schema = "id long, band int, band_key long"
    try:
        indexed = spark.read.schema(index_schema).parquet(index_dir)
    except AnalysisException:
        indexed = spark.createDataFrame([], index_schema)
    missing = corpus.join(
        indexed.select(F.col("id").alias(id_col)).distinct(),
        id_col,
        "left_anti",
    ).localCheckpoint()
    n = missing.count()
    if n:
        minhash_band_index(
            missing,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
        ).write.mode("append").parquet(index_dir)
    return n


def compact_sketch_dir(spark, sketch_dir: str, kind: str = "cms") -> int:
    """Rewrite an LSM-style sketch segment dir as its own merge — the
    maintenance op the stream_cms_ingest/stream_bloom_ingest docstrings
    defer (each micro-batch appends a segment; hundreds of segments
    make readers re-merge hundreds of files). `kind` is "cms" (merge =
    groupBy-sum) or "bloom" (merge = distinct). The merged table is
    swapped in by the collection store's crash-safe `_swap_in`, and
    `read_cms`/`read_bloom` heal an interrupted swap on every read — so
    the dir always reads as either the original segments or the
    complete compacted table, never absent and never a partial mix.
    Returns the merged row count."""
    from chroma_rs_spark.collection import _swap_in

    if kind == "cms":
        merged = read_cms(spark, sketch_dir)
    elif kind == "bloom":
        merged = read_bloom(spark, sketch_dir)
    else:
        raise ValueError(f"unknown sketch kind {kind!r}")
    base = sketch_dir.rstrip("/")
    _swap_in(base, lambda tmp: merged.coalesce(1).write.parquet(tmp))
    return spark.read.parquet(base).count()
