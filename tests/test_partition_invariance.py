"""Partition-order invariance gate.

Every operator in this repo claims its output is "a deterministic
function of the data, not of the partitioning" — the property the
fixed-point sums, position-ordered folds, md5 sampling and round-6
discipline exist to deliver. This suite checks the claim MECHANICALLY:
each operator runs once over a single-partition layout and once over an
adversarial layout (7 partitions keyed on an unrelated expression, row
order scrambled within each), and the two results must match as sorted
row multisets with EXACT float bits.

A plain parallel sum of doubles fails this gate; in-order folds and
integer/decimal fixed-point accumulation pass. This is the local
analogue of a cluster re-running a stage with different task layouts.
"""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF001_DIR


def _bits(x):
    if x is None:
        return None
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        return struct.unpack("<q", struct.pack("<d", x))[0]
    if isinstance(x, list):
        return tuple(_bits(v) for v in x)
    return x


def _canon(df):
    return sorted(
        tuple(_bits(v) for v in row) for row in (tuple(r) for r in df.collect())
    )


def _layouts(df, key_col):
    """(single-partition, adversarial) variants of the same rows."""
    one = df.coalesce(1)
    scrambled = (
        df.repartition(7, (F.col(key_col) % F.lit(3)).cast("int"))
        .sortWithinPartitions(F.col(key_col).desc())
    )
    return one, scrambled


def _docs(spark):
    return spark.read.parquet(f"{SF001_DIR}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF001_DIR}/embeddings.parquet")


def test_label_centroids_partition_invariant(spark):
    from chroma_rs_spark.operators.centroids import label_centroids

    a, b = _layouts(_emb(spark), "vec_id")
    assert _canon(label_centroids(a)) == _canon(label_centroids(b))


def test_lm_perplexity_partition_invariant(spark):
    from chroma_rs_spark.operators.text import lm_perplexity

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(lm_perplexity(a)) == _canon(lm_perplexity(b))


def test_tfidf_topk_partition_invariant(spark):
    from chroma_rs_spark.operators.text import tfidf_topk

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(tfidf_topk(a)) == _canon(tfidf_topk(b))


def test_bm25_partition_invariant(spark):
    from chroma_rs_spark.operators.text import bm25_scores
    from chroma_rs_spark.suite.text import _BM25_TERMS

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(bm25_scores(a, list(_BM25_TERMS))) == _canon(
        bm25_scores(b, list(_BM25_TERMS))
    )


def test_line_dedup_partition_invariant(spark):
    from chroma_rs_spark.operators.dedup import line_dedup

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(line_dedup(a, min_df=2)) == _canon(line_dedup(b, min_df=2))


def test_dsir_partition_invariant(spark):
    from chroma_rs_spark.operators.sampling import dsir_importance

    a, b = _layouts(_docs(spark), "doc_id")
    got_a = _canon(dsir_importance(a, target_filter="lang = 'en'", top_k=50))
    got_b = _canon(dsir_importance(b, target_filter="lang = 'en'", top_k=50))
    assert got_a == got_b


def test_semantic_dedup_partition_invariant(spark):
    from chroma_rs_spark.operators.similarity import semantic_dedup

    # a 120-vector sample keeps the two k-means runs fast while still
    # exercising seeds, Lloyd's E/M rounds and the pair tournament
    emb = _emb(spark).filter(F.col("vec_id") < 120)
    a, b = _layouts(emb, "vec_id")
    assert _canon(semantic_dedup(a, threshold=0.9)) == _canon(
        semantic_dedup(b, threshold=0.9)
    )


def test_ngram_decontamination_partition_invariant(spark):
    from chroma_rs_spark.operators.sampling import ngram_decontamination

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(ngram_decontamination(a, w)) == _canon(
        ngram_decontamination(b, w)
    )


def test_token_budget_sample_partition_invariant(spark):
    from chroma_rs_spark.operators.sampling import token_budget_sample

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(token_budget_sample(a, budget=3000)) == _canon(
        token_budget_sample(b, budget=3000)
    )


def test_gopher_repetition_partition_invariant(spark):
    from chroma_rs_spark.operators.text import gopher_repetition

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(gopher_repetition(a)) == _canon(gopher_repetition(b))


def test_domain_cap_sample_partition_invariant(spark):
    from chroma_rs_spark.operators.sampling import domain_cap_sample

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(domain_cap_sample(a, cap=15)) == _canon(
        domain_cap_sample(b, cap=15)
    )


def test_dedup_keep_best_partition_invariant(spark):
    from chroma_rs_spark.operators.dedup import minhash_lsh_pairs
    from chroma_rs_spark.operators.graph import dedup_keep_best

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(
        dedup_keep_best(
            a, minhash_lsh_pairs(a), score_col="n_chars", lazy_local=True
        )
    ) == _canon(
        dedup_keep_best(
            b, minhash_lsh_pairs(b), score_col="n_chars", lazy_local=True
        )
    )


def test_bigram_perplexity_partition_invariant(spark):
    from chroma_rs_spark.operators.text import bigram_perplexity

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(bigram_perplexity(a)) == _canon(bigram_perplexity(b))


def test_quality_classifier_partition_invariant(spark):
    """Both the trained micro-unit weights AND the scores must be a
    function of the data alone — the floor-quantized integer gradient
    sums are the mechanism."""
    from pyspark.sql import functions as F

    from chroma_rs_spark.operators.classifier import (
        featurize_text,
        score_quality_classifier,
        train_quality_classifier,
    )

    lab = F.array_contains(
        F.expr("filter(split(coalesce(text, ''), ' '), x -> x <> '')"), "join"
    ).cast("int")
    a, b = _layouts(_docs(spark).withColumn("label", lab), "doc_id")
    fa = featurize_text(a, n_features=32, extra_cols=("label",))
    fb = featurize_text(b, n_features=32, extra_cols=("label",))
    wa = train_quality_classifier(fa, n_features=32, iters=2)
    wb = train_quality_classifier(fb, n_features=32, iters=2)
    assert wa == wb
    sa = score_quality_classifier(fa, wa).select("doc_id", "score", "score_pred")
    sb = score_quality_classifier(fb, wb).select("doc_id", "score", "score_pred")
    assert _canon(sa) == _canon(sb)


def test_bpe_merges_partition_invariant(spark):
    from chroma_rs_spark.operators.bpe import apply_bpe, train_bpe

    a, b = _layouts(_docs(spark), "doc_id")
    ma, mb = train_bpe(a, n_merges=4), train_bpe(b, n_merges=4)
    assert ma == mb
    assert _canon(apply_bpe(a, ma).select("doc_id", "bpe_tokens_n")) == _canon(
        apply_bpe(b, mb).select("doc_id", "bpe_tokens_n")
    )


def test_minhash_accuracy_partition_invariant(spark):
    from chroma_rs_spark.operators.dedup import minhash_accuracy

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(minhash_accuracy(a)) == _canon(minhash_accuracy(b))


def test_cms_partition_invariant(spark):
    # counts are partition-order-free by construction; the gate pins it
    from chroma_rs_spark.operators.dedup import exploded_shingles
    from chroma_rs_spark.operators.sketch import cms_build

    a, b = _layouts(_docs(spark), "doc_id")
    sa = cms_build(exploded_shingles(a, "doc_id", "text", 3), "shingle", 3, 64)
    sb = cms_build(exploded_shingles(b, "doc_id", "text", 3), "shingle", 3, 64)
    assert _canon(sa) == _canon(sb)


def test_bloom_partition_invariant(spark):
    from chroma_rs_spark.operators.sketch import bloom_build, bloom_contains

    docs = _docs(spark)
    a, b = _layouts(docs, "doc_id")
    fa, fb = bloom_build(a, "text", 3, 1 << 12), bloom_build(b, "text", 3, 1 << 12)
    assert _canon(fa) == _canon(fb)
    pa = bloom_contains(a, fa, "text", "doc_id", 3, 1 << 12)
    pb = bloom_contains(b, fb, "text", "doc_id", 3, 1 << 12)
    assert _canon(pa.select("doc_id", "bloom_hit")) == _canon(
        pb.select("doc_id", "bloom_hit")
    )


def test_normalize_text_partition_invariant(spark):
    from chroma_rs_spark.operators.text import normalize_text

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(normalize_text(a)) == _canon(normalize_text(b))


def test_ivfpq_partition_invariant(spark):
    from chroma_rs_spark.operators.pq import (
        _ivfpq_codes_arrow,
        hash_codebooks,
        ivfpq_probes,
        pq_adc_topk,
    )

    emb = _emb(spark)
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 8 AND embedding IS NOT NULL").collect()
    ]
    queries = [c for c in cents if c[0] < 3]
    books = hash_codebooks(8, 8, 8)
    cells = (cents, ivfpq_probes(cents, queries, 2))

    def search(items):
        codes = _ivfpq_codes_arrow(items, books, cents, "vec_id", "embedding")
        return pq_adc_topk(
            codes.withColumnRenamed("vec_id", "id"), books, queries, k=5, cells=cells
        )

    a, b = _layouts(emb, "vec_id")
    assert _canon(search(a)) == _canon(search(b))


def test_simhash_pairs_partition_invariant(spark):
    from chroma_rs_spark.operators.dedup import simhash_near_pairs

    a, b = _layouts(_docs(spark), "doc_id")
    assert _canon(simhash_near_pairs(a)) == _canon(simhash_near_pairs(b))
