"""Unit tests for dedup / similarity / multimodal operators."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF001_DIR

from chroma_rs_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from chroma_rs_spark.operators.multimodal import (
    attach_payload,
    decode_image_real,
    extract_media_features,
)
from chroma_rs_spark.operators.similarity import cosine_topk_pairs, signbucket_ann


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "completely different words about spark query engines here now"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_dedup(docs):
    res = {r["doc_id"]: r for r in exact_dedup(docs).collect()}
    assert res[1]["n_copies"] == 2 and res[2]["n_copies"] == 2
    assert res[1]["keep"] is True and res[2]["keep"] is False
    assert res[3]["n_copies"] == 1 and res[3]["keep"] is True


def test_minhash_identical_docs_full_agreement(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # near-dup shares most shingles -> high but < 1
    assert 0.2 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs  # disjoint shingles never collide


def test_minhash_multirow_bands(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, num_hashes=16, bands=4).collect()
    }
    # 4-row bands: exact dup still collides on every band
    assert pairs[(1, 2)] == 1.0


def test_simhash_identical_and_distinct(docs):
    res = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert res[1] == res[2]
    assert res[1] != res[4]
    assert all(0 <= v < 2**32 for v in res.values())


def test_ngram_jaccard(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, top_n=None).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # 10 tokens -> 8 3-shingles; docs 1/3 differ in token 9 ('dog'/'cat'),
    # which appears in 2 shingles each side: inter=6, union=10
    assert pairs[(1, 3)] == 0.6


def test_cosine_topk_pairs(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [2.0, 0.0]),   # same direction as 1
        (3, [0.0, 1.0]),
        (4, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    top = cosine_topk_pairs(df, top_n=2).collect()
    assert (top[0]["id_a"], top[0]["id_b"], top[0]["cosine_sim"]) == (1, 2, 1.0)


def test_signbucket_ann_excludes_self_and_respects_bucket(spark):
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0]),
        (1, [0.5, 0.5, 0.5, 0.5]),   # same bucket as 0
        (2, [-1.0, 1.0, 1.0, 1.0]),  # different bucket
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    probes = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    # hamming_probes=0 pins the single-bucket path explicitly (the
    # DEFAULT moved to multi-probe radius 2 in round 8, which WOULD
    # reach vec 2's flipped-plane bucket — asserted below)
    res = signbucket_ann(df, probes, k=5, n_planes=4, hamming_probes=0).collect()
    assert [r["neighbor_id"] for r in res] == [1]
    assert res[0]["distance"] == 0.0  # same direction
    # the radius-2 default probes the Hamming-1 neighbor bucket too
    res2 = signbucket_ann(df, probes, k=5, n_planes=4).collect()
    assert [r["neighbor_id"] for r in res2] == [1, 2]


def test_multimodal_features_roundtrip(docs):
    feats = {
        r["doc_id"]: r
        for r in extract_media_features(attach_payload(docs)).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for d, t in texts.items():
        n = len(t.encode())
        assert feats[d]["byte_len"] == n
        assert feats[d]["width"] == n % 640
        assert feats[d]["n_frames"] == n % 30 + 1


def test_decode_image_real_rejects_truncated_payload():
    """The decode path is real now (see test_multimodal_decode.py);
    malformed payloads fail loudly, not silently."""
    with pytest.raises(ValueError):
        decode_image_real(b"\x89PNG...")


def test_resize_media_normalizes_byte_len(docs):
    from chroma_rs_spark.operators.multimodal import resize_media

    out = resize_media(attach_payload(docs), target_bytes=64).collect()
    assert len(out) == 4
    for r in out:
        assert r["byte_len"] == 64 and len(r["payload"]) == 64
    # cycle-padding is deterministic: payload prefix == original text bytes
    by_id = {r["doc_id"]: bytes(r["payload"]) for r in out}
    assert by_id[1].startswith(b"the quick brown fox")
    assert by_id[1] == by_id[2]  # identical docs -> identical resized payloads


def test_sample_frames_stride_and_fingerprints(docs):
    import hashlib

    from chroma_rs_spark.operators.multimodal import sample_frames

    rows = sample_frames(attach_payload(docs), frame_bytes=16, every_n=2).collect()
    text1 = "the quick brown fox jumps over the lazy dog today"
    b = text1.encode()
    n_frames = len(b) % 30 + 1
    got1 = sorted(
        (r["frame_idx"], r["frame_len"], r["frame_md5"])
        for r in rows
        if r["doc_id"] == 1
    )
    expected1 = []
    for i in range(0, n_frames, 2):
        chunk = b[i * 16 : (i + 1) * 16]
        expected1.append(
            (i, len(chunk), hashlib.md5(chunk.hex().upper().encode()).hexdigest())
        )
    assert got1 == sorted(expected1)


def test_quantize_embeddings_roundtrip_error_bounded(spark):
    import math

    from chroma_rs_spark.operators.quantize import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.5, -1.25, 3.75]), (2, [0.0, 0.5, -0.5])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # row 1: reference arithmetic
    scale = 3.75 / 127.0
    qv = [math.floor(x / scale + 0.5) for x in (0.5, -1.25, 3.75)]
    assert rows[1]["q_embedding"] == qv
    assert abs(rows[1]["scale"] - scale) < 1e-9
    # max per-coordinate error is scale/2
    for vid, emb in ((1, [0.5, -1.25, 3.75]), (2, [0.0, 0.5, -0.5])):
        r = rows[vid]
        deq = [q * r["scale"] for q in r["q_embedding"]]
        for orig, back in zip(emb, deq):
            assert abs(orig - back) <= r["scale"] / 2 + 1e-9
        assert r["recon_err"] <= r["scale"] / 2 * math.sqrt(len(emb)) + 1e-9


def test_dataset_split_disjoint_exhaustive_stable(spark):
    from chroma_rs_spark.operators.sampling import dataset_split, deterministic_sample

    base = spark.range(2000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    assigned = {r["doc_id"]: r["split"] for r in dataset_split(base, w).collect()}
    assert set(assigned.values()) <= {"train", "val", "test"}
    assert len(assigned) == 2000  # exhaustive, one split each
    frac = sum(1 for s in assigned.values() if s == "train") / 2000
    assert 0.75 < frac < 0.85  # ~80%
    # stability: growing the corpus never reassigns an existing row
    bigger = spark.range(4000).select(F.col("id").alias("doc_id"))
    assigned2 = {r["doc_id"]: r["split"] for r in dataset_split(bigger, w).collect()}
    assert all(assigned2[i] == assigned[i] for i in assigned)
    # sample is a subset-by-construction of any larger-fraction sample
    s10 = {r["doc_id"] for r in deterministic_sample(base, 0.1).collect()}
    s20 = {r["doc_id"] for r in deterministic_sample(base, 0.2).collect()}
    assert s10 <= s20
    with __import__("pytest").raises(ValueError):
        dataset_split(base, {"a": 0.5, "b": 0.4})


def test_stratified_sample_per_group_fractions(spark):
    from chroma_rs_spark.operators.sampling import (
        deterministic_sample,
        stratified_sample,
    )

    base = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "fr")
        .otherwise("zh")
        .alias("lang"),
    )
    out = stratified_sample(base, {"en": 0.1, "zh": 1.0}, strata_col="lang")
    counts = {r["lang"]: r["cnt"] for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert counts.get("fr", 0) == 0  # default_fraction=0 drops unlisted strata
    assert counts["zh"] == 1000  # fraction 1.0 keeps everything
    assert 50 < counts["en"] < 150  # ~10% of 1000
    # per-stratum selection agrees with the flat sampler at the same fraction
    flat = {
        r["doc_id"]
        for r in deterministic_sample(base.filter(F.col("lang") == "en"), 0.1).collect()
    }
    strat = {r["doc_id"] for r in out.filter(F.col("lang") == "en").collect()}
    assert strat == flat
    with __import__("pytest").raises(ValueError):
        stratified_sample(base, {"en": 1.5}, strata_col="lang")


def test_tiny_fraction_rounds_up_to_one_bucket(spark):
    from chroma_rs_spark.operators.sampling import deterministic_sample

    base = spark.range(100000).select(F.col("id").alias("doc_id"))
    # below half a bucket: would round to an empty sample without the guard
    tiny = deterministic_sample(base, 4e-5).count()
    assert 0 < tiny < 50  # one bucket of 10k => ~10 rows expected
    assert deterministic_sample(base, 0.0).count() == 0


def test_split_contamination_finds_known_leak(spark):
    from chroma_rs_spark.operators.sampling import split_contamination

    # two byte-identical docs hashed into different splits by id: the
    # one landing outside train must be reported. Every other doc's
    # tokens are doc-unique, so no shared shingles (a shared filler
    # phrase would legitimately merge fingerprints — that's the
    # operator's point, not a bug).
    def unique_text(i):
        return " ".join(f"w{i}x{j}" for j in range(12))

    from chroma_rs_spark.operators.sampling import dataset_split

    docs = spark.createDataFrame(
        [(i, unique_text(i)) for i in range(40)], "doc_id LONG, text STRING"
    )
    sp = {
        r["doc_id"]: r["split"]
        for r in dataset_split(
            docs, {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    train_id = next(i for i, s in sp.items() if s == "train")
    eval_id = next(i for i, s in sp.items() if s != "train")
    dup_text = "this exact document leaked across the split boundary again"
    rows = [
        (i, dup_text if i in (train_id, eval_id) else unique_text(i))
        for i in range(40)
    ]
    docs2 = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = split_contamination(docs2, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    assert [r["doc_id"] for r in out] == [eval_id]
    assert out[0]["split"] == sp[eval_id]


def test_split_contamination_suite_matches_oracle(spark):
    import duckdb

    from chroma_rs_spark.suite.pipeline import QUERIES

    qd = QUERIES["split_contamination"]
    got = sorted(tuple(r) for r in qd.fn(spark, SF001_DIR).collect())
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF001_DIR}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(qd.oracle).fetchall())
    assert got == want


def test_split_contamination_catches_short_docs(spark):
    from chroma_rs_spark.operators.sampling import dataset_split, split_contamination

    # 3-token docs produce no 5-gram fingerprint; the md5(text)
    # fallback must still catch a byte-identical cross-split pair
    docs = spark.createDataFrame(
        [(i, f"short doc {i}") for i in range(40)], "doc_id LONG, text STRING"
    )
    sp = {
        r["doc_id"]: r["split"]
        for r in dataset_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    }
    train_id = next(i for i, s in sp.items() if s == "train")
    eval_id = next(i for i, s in sp.items() if s != "train")
    rows = [
        (i, "dup tiny" if i in (train_id, eval_id) else f"short doc {i}")
        for i in range(40)
    ]
    docs2 = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = split_contamination(docs2, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    assert [r["doc_id"] for r in out] == [eval_id]


def test_temperature_mixture_flattens_sources(spark):
    from chroma_rs_spark.operators.sampling import temperature_mixture_sample

    # 1000-doc dominant source vs 100-doc rare source: alpha=0.5 must
    # keep the rare source at a HIGHER per-source rate than the
    # dominant one (flattened mix), with overall size ~ total_fraction
    rows = [(i, "big") for i in range(1000)] + [
        (i, "small") for i in range(1000, 1100)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    out = temperature_mixture_sample(df, total_fraction=0.3, alpha=0.5)
    got = out.groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in got}
    rate_big = by_src.get("big", 0) / 1000
    rate_small = by_src.get("small", 0) / 100
    assert rate_small > rate_big * 2  # sqrt weighting: ~3.16x
    total = sum(by_src.values())
    assert 0.2 < total / 1100 < 0.4

    with pytest.raises(ValueError):
        temperature_mixture_sample(df, total_fraction=0.0)
    with pytest.raises(ValueError):
        temperature_mixture_sample(df, total_fraction=0.5, alpha=1.5)


def test_temperature_mixture_suite_matches_oracle(spark):
    import duckdb

    from chroma_rs_spark.suite.pipeline import QUERIES

    qd = QUERIES["temperature_mixture"]
    got = sorted(tuple(r) for r in qd.fn(spark, SF001_DIR).collect())
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF001_DIR}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(qd.oracle).fetchall())
    assert got == want and len(got) > 0


def test_temperature_mixture_null_source_and_floor(spark):
    from chroma_rs_spark.operators.sampling import temperature_mixture_sample

    # NULL sources form their own stratum instead of vanishing
    rows = [(i, "a") for i in range(100)] + [(i, None) for i in range(100, 200)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    out = temperature_mixture_sample(df, total_fraction=0.5, alpha=0.5)
    srcs = {r["source"] for r in out.collect()}
    assert None in srcs and "a" in srcs

    # 1-bucket floor: a tiny but valid fraction keeps a nonzero
    # per-source rate (bucket granularity means the corpus must span
    # enough ids for bucket 0 to be hit — same property as
    # deterministic_sample)
    big = spark.range(30000).select(
        F.col("id").alias("doc_id"), F.lit("a").alias("source")
    )
    # 1e-5 * 10000 buckets = 0.1 -> round() alone would give cutoff 0
    tiny = temperature_mixture_sample(big, total_fraction=1e-5, alpha=0.5)
    n = tiny.count()
    assert n > 0  # floor: never silently empty on a real corpus
    assert n < 300  # and still a tiny sample


def test_containment_catches_doc_inside_doc(spark):
    from chroma_rs_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = "prefix words here " + short + " and a long suffix tail of text"
    other = "completely different content with no overlap at all ok"
    docs = spark.createDataFrame(
        [(1, long), (2, short), (3, other)], "doc_id long, text string"
    )
    out = containment_pairs(docs, shingle_k=3, threshold=0.8).collect()
    assert len(out) == 1
    r = out[0]
    # every 3-gram of the short doc appears in the long one
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment_b"] == 1.0 and r["containment_a"] < 0.5


def test_exact_dedup_normalized_folds_formatting(spark):
    from chroma_rs_spark.operators.dedup import exact_dedup_normalized

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!  Good   morning."),
            (2, "hello world good morning"),
            (3, "entirely different"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in exact_dedup_normalized(docs).collect()}
    assert out[1]["norm_sha"] == out[2]["norm_sha"]
    assert out[1]["n_copies"] == 2 and out[1]["keep"] is True
    assert out[2]["keep"] is False and out[3]["n_copies"] == 1


def test_hybrid_rrf_fuses_modalities(spark):
    from chroma_rs_spark.operators.hybrid import hybrid_search_rrf

    docs = spark.createDataFrame(
        [
            (0, "query term here and filler words extra pad tokens"),
            (1, "term term term term strong text match here pad"),
            (2, "no lexical overlap at all just filler pad words"),
            (3, "term appears once here with other pad filler words"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),   # the query vector itself
            (1, [0.0, 1.0, 0.0]),   # orthogonal: worst vector rank
            (2, [0.9, 0.1, 0.0]),   # near the query: best non-self
            (3, [0.5, 0.5, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = hybrid_search_rrf(docs, emb, ["term"], [1.0, 0.0, 0.0], k=4).collect()
    by_id = {r["doc_id"]: r for r in out}
    # only MATCHING docs are lexical candidates (bm25 > 0): doc 2 has
    # no text signal, so under the intersection contract it cannot
    # surface; doc 1 (best text, worst vector) fuses behind doc 0
    # (good at both: self-vector + has 'term')
    assert out[0]["doc_id"] == 0
    assert 2 not in by_id
    assert by_id[1]["bm25_rank"] == 1 and by_id[1]["vec_rank"] == 4
    for r in out:
        assert r["rrf"] == round(
            1.0 / (60 + r["bm25_rank"]) + 1.0 / (60 + r["vec_rank"]), 6
        )
    # union mode surfaces the text-less doc 2 with the missing-rank
    # convention on the lexical side
    union = {
        r["doc_id"]: r
        for r in hybrid_search_rrf(
            docs, emb, ["term"], [1.0, 0.0, 0.0], k=4, require_both=False
        ).collect()
    }
    assert union[2]["bm25_rank"] is None and union[2]["vec_rank"] == 2
    with pytest.raises(ValueError, match="non-empty"):
        hybrid_search_rrf(docs, emb, [], [1.0, 0.0, 0.0])


def test_hybrid_rrf_union_semantics_surfaces_one_sided_docs(spark):
    """require_both=False: a doc with a NULL embedding (text-only hit)
    still receives a fused score with the depth+1 missing-rank
    convention; the intersection default excludes it."""
    from chroma_rs_spark.operators.hybrid import hybrid_search_rrf

    docs = spark.createDataFrame(
        [
            (0, "query term here and filler words extra pad tokens"),
            (1, "term term term term strong text match here pad"),
            (2, "no lexical overlap at all just filler pad words"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, None),  # text-only document
            (2, [0.9, 0.1, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    strict = {
        r["doc_id"]
        for r in hybrid_search_rrf(docs, emb, ["term"], [1.0, 0.0, 0.0], k=5).collect()
    }
    assert 1 not in strict
    union = {
        r["doc_id"]: r
        for r in hybrid_search_rrf(
            docs, emb, ["term"], [1.0, 0.0, 0.0], k=5, depth=100, require_both=False
        ).collect()
    }
    assert 1 in union
    r1 = union[1]
    assert r1["vec_rank"] is None  # missing side reported as NULL
    assert r1["rrf"] == round(1.0 / (60 + r1["bm25_rank"]) + 1.0 / (60 + 101), 6)


def test_hybrid_rrf_dense_leg_drops_nan_distances(spark):
    """A document whose embedding has a NaN component has a NaN cosine
    distance: the dense leg drops it before ranking, as the DuckDB
    oracle's `NOT isnan(d)` does, instead of ranking it last and fusing
    it with the lexical leg."""
    from chroma_rs_spark.operators.hybrid import hybrid_search_rrf

    docs = spark.createDataFrame(
        [(0, "term one"), (1, "term two"), (3, "term three")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.6, 0.8, 0.0]), (3, [float("nan"), 0.5, 0.0])],
        "vec_id long, embedding array<float>",
    )
    for both in (True, False):
        out = {
            r["doc_id"]: r["vec_rank"]
            for r in hybrid_search_rrf(
                docs, emb, ["term"], [1.0, 0.0, 0.0], k=5, require_both=both
            ).collect()
        }
        assert out == ({0: 1, 1: 2} if both else {0: 1, 1: 2, 3: None}), out


def test_simhash_packed_matches_python_reference(docs):
    """Pin the 16-bit-field bit-count packing against a direct Python
    reimplementation of the published formulation (per-bit +/-1 sums of
    md5-derived token hashes)."""
    import hashlib

    want = {}
    for doc_id, text in docs.collect():
        sums = [0] * 32
        for t in text.split(" "):
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            for j in range(32):
                sums[j] += 1 if (h >> j) & 1 else -1
        want[doc_id] = sum(1 << j for j in range(32) if sums[j] > 0)
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert got == want


def test_shingle_max_df_drops_boilerplate_pairs(spark):
    """Planted hot shingle: with max_df below its document frequency,
    the boilerplate shingle generates NO pairs, while low-df shared
    shingles still do — and set sizes stay the full (pre-cutoff) sizes."""
    from chroma_rs_spark.operators.dedup import shingle_pair_intersections

    # all 4 docs share 'spam ham jam'; only docs 1/2 share 'p q r'
    rows = [
        (1, "spam ham jam p q r a1 b1"),
        (2, "spam ham jam p q r a2 b2"),
        (3, "spam ham jam c3 d3 e3"),
        (4, "spam ham jam c4 d4 e4"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    unbounded = {
        (r["id_a"], r["id_b"]) for r in shingle_pair_intersections(df, max_df=None).collect()
    }
    assert unbounded == {(a, b) for a in range(1, 5) for b in range(a + 1, 5)}

    got = {
        (r["id_a"], r["id_b"]): r
        for r in shingle_pair_intersections(df, max_df=3).collect()
    }
    # only the df<=3 shingles of docs 1/2 survive pair generation:
    # 'ham jam p', 'jam p q', 'p q r' (plus their distinct tails differ)
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["n_inter"] == 3
    # sizes are the FULL shingle-set sizes (8 tokens -> 6 shingles)
    assert r["size_a"] == 6 and r["size_b"] == 6


def test_shingle_salted_join_parity(spark):
    """Hot-shingle salting (round 14, guide §2.5) is a pure plan
    change: forced-salt results must be row-identical to the unsalted
    join — including a shingle hot enough to actually fan out — and
    the auto gate must leave a provably tiny corpus unsalted."""
    from chroma_rs_spark.operators.dedup import (
        SHINGLE_SALT_TARGET,
        _resolve_salt,
        shingle_pair_intersections,
    )
    from chroma_rs_spark.sources.tables import load_table

    docs = load_table(spark, SF001_DIR, "documents")
    # force a genuinely hot shingle: every doc gains a shared prefix,
    # so its leading shingles' df = |docs| (> 2x SHINGLE_SALT_TARGET
    # at sf0.001's 50+ docs is false — so ALSO drop the target via a
    # synthetic corpus below for the fan-out case)
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    base = {
        key(r): (r["n_inter"], r["size_a"], r["size_b"])
        for r in shingle_pair_intersections(
            docs, max_df=None, salt=False
        ).collect()
    }
    salted = {
        key(r): (r["n_inter"], r["size_a"], r["size_b"])
        for r in shingle_pair_intersections(
            docs, max_df=None, salt=True
        ).collect()
    }
    assert salted == base

    # synthetic hot shingle with df > 2x target: fan-out actually fires
    n = 2 * SHINGLE_SALT_TARGET + 40
    rows = [(i, f"spam ham jam tail{i} x{i} y{i}") for i in range(n)]
    hot = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    b2 = {
        key(r): r["n_inter"]
        for r in shingle_pair_intersections(
            hot, max_df=None, salt=False
        ).collect()
    }
    s2 = {
        key(r): r["n_inter"]
        for r in shingle_pair_intersections(
            hot, max_df=None, salt=True
        ).collect()
    }
    assert s2 == b2
    # every pair shares exactly the one hot shingle ('spam ham jam')
    assert set(b2.values()) == {1} and len(b2) == n * (n - 1) // 2

    # auto gate: a tiny parquet-backed corpus resolves to unsalted
    assert _resolve_salt(docs.select("doc_id", "text"), "auto") is False


def test_leakage_safe_split_co_assigns_near_dups(spark):
    """Every near-dup pair must land in the SAME split (the structural
    guarantee the plain id-hash split cannot give), and singletons must
    match dataset_split's id-hash assignment exactly."""
    from chroma_rs_spark.operators.dedup import minhash_lsh_pairs
    from chroma_rs_spark.operators.sampling import (
        dataset_split,
        leakage_safe_split,
    )
    from chroma_rs_spark.sources.tables import load_table

    docs = load_table(spark, SF001_DIR, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=16, shingle_k=3)
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_split(docs, pairs, weights)
    split_of = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}
    assert len(split_of) == docs.count()
    # (a) co-assignment: both ends of every thresholded pair share a split
    checked = 0
    for r in pairs.where("est_jaccard >= 0.5").collect():
        assert split_of[r["id_a"]][1] == split_of[r["id_b"]][1], (
            r["id_a"], r["id_b"])
        checked += 1
    assert checked > 0, "corpus has no near-dup pairs; test is vacuous"
    # (b) singletons (cluster_id == doc_id AND nothing else in the
    # cluster) get the same split the plain id-hash would give
    from collections import Counter

    sizes = Counter(c for c, _ in split_of.values())
    plain = {r["doc_id"]: r["split"] for r in dataset_split(docs, weights).collect()}
    n_single = 0
    for doc, (cid, sp) in split_of.items():
        if cid == doc and sizes[cid] == 1:
            assert sp == plain[doc]
            n_single += 1
    assert n_single > 0
    # (c) proportions stay sane on this corpus
    frac_train = sum(1 for _, s in split_of.values() if s == "train") / len(split_of)
    assert 0.6 < frac_train < 0.95


def test_random_projection_preserves_distances_in_expectation(spark):
    """Achlioptas sparse projection: deterministic (same output twice),
    excludes NULL/wrong-dim rows, and approximately preserves pairwise
    squared distances (the JL property) on the real embeddings."""
    import numpy as np

    from chroma_rs_spark.operators.quantize import random_projection
    from chroma_rs_spark.sources.tables import load_table

    emb = load_table(spark, SF001_DIR, "embeddings")
    out = random_projection(emb, out_dim=16, in_dim=64)
    rows = {r["vec_id"]: np.array(r["projected"]) for r in out.collect()}
    again = {r["vec_id"]: np.array(r["projected"]) for r in out.collect()}
    assert all((rows[i] == again[i]).all() for i in rows)  # deterministic
    orig = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.filter("embedding IS NOT NULL").collect()
    }
    assert set(rows) == set(orig)
    rng = np.random.default_rng(3)
    ids = sorted(rows)
    ratios = []
    for _ in range(50):
        a, b = rng.choice(ids, size=2, replace=False)
        d_orig = float(((orig[a] - orig[b]) ** 2).sum())
        d_proj = float(((rows[a] - rows[b]) ** 2).sum())
        if d_orig > 0:
            ratios.append(d_proj / d_orig)
    ratios = np.array(ratios)
    # JL in expectation: mean ratio near 1, spread bounded at k=16
    assert 0.7 < ratios.mean() < 1.3, ratios.mean()
    assert (ratios > 0.2).all() and (ratios < 3.0).all()


def test_token_budget_sample_boundary_and_order(spark):
    """Selection is cum_tokens <= budget in md5-id order: a doc that
    fits exactly is kept, the next one is cut; NULL text costs 0
    tokens and NULL language forms its own budget group."""
    from chroma_rs_spark.operators.sampling import token_budget_sample

    docs = [
        (i, "tok " * 10, "en") for i in range(8)
    ]  # 10 tokens each ("tok"*10 split -> 10 non-empty)
    docs += [(100, None, "en"), (200, "a b c", None)]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: r
        for r in token_budget_sample(df, budget=30).collect()
    }
    en = sorted(
        (r["cum_tokens"], d)
        for d, r in out.items()
        if r["lang"] == "en" and r["n_tokens"] > 0
    )
    # exactly three 10-token docs fit a 30-token budget
    kept = [d for c, d in en if c <= 30]
    assert len(kept) == 3
    for c, d in en:
        assert out[d]["selected"] == (c <= 30)
    # the boundary doc (cum == 30) is kept, the next (cum == 40) is not
    assert en[2][0] == 30 and out[en[2][1]]["selected"]
    assert en[3][0] == 40 and not out[en[3][1]]["selected"]
    # NULL text: zero tokens, cumulative total unchanged by it
    assert out[100]["n_tokens"] == 0
    # NULL lang is its own group with the default budget
    assert out[200]["lang"] is None and out[200]["selected"]


def test_token_budget_sample_hierarchical_equals_naive(spark):
    """The bucketed prefix sum must equal a single language-wide
    window exactly (order-preserving bucket boundaries, integer
    arithmetic) — across several bucket widths."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from chroma_rs_spark.operators.dedup import nonempty_tokens_col
    from chroma_rs_spark.operators.sampling import token_budget_sample

    docs = spark.read.parquet(f"{SF001_DIR}/documents.parquet")
    h = F.md5(F.col("doc_id").cast("string"))
    naive = docs.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(nonempty_tokens_col("text")))
        .cast("long")
        .alias("n_tokens"),
        h.alias("_h"),
        "lang",
    ).withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(
            Window.partitionBy("lang")
            .orderBy("_h", "doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    want = {
        r["doc_id"]: r["cum_tokens"] for r in naive.collect()
    }
    for nb in (1, 16, 256):
        got = {
            r["doc_id"]: r["cum_tokens"]
            for r in token_budget_sample(docs, budget=5000, n_buckets=nb).collect()
        }
        assert got == want, f"n_buckets={nb}"


def test_token_budget_sample_validation(spark):
    from chroma_rs_spark.operators.sampling import token_budget_sample

    df = spark.createDataFrame(
        [(0, "a", "en")], "doc_id long, text string, lang string"
    )
    with pytest.raises(ValueError, match="divide 65536"):
        token_budget_sample(df, budget=10, n_buckets=100)
    with pytest.raises(ValueError, match=">= 0"):
        token_budget_sample(df, budget=-1)
    with pytest.raises(ValueError, match=">= 0"):
        token_budget_sample(df, budget=10, budgets={"en": -5})


def test_domain_cap_sample_caps_and_order(spark):
    """Per-domain caps hold in md5-id order; per-source overrides beat
    the default; a NULL source is its own capped group."""
    from chroma_rs_spark.operators.sampling import domain_cap_sample

    docs = [(i, "a") for i in range(10)]            # source 'a' x 10
    docs += [(100 + i, "b") for i in range(4)]      # source 'b' x 4
    docs += [(200 + i, None) for i in range(3)]     # NULL source x 3
    df = spark.createDataFrame(docs, "doc_id long, source string")
    out = {
        r["doc_id"]: r
        for r in domain_cap_sample(df, cap=2, caps={"a": 6}).collect()
    }
    assert sum(1 for r in out.values() if r["source"] == "a" and r["selected"]) == 6
    assert sum(1 for r in out.values() if r["source"] == "b" and r["selected"]) == 2
    assert sum(1 for r in out.values() if r["source"] is None and r["selected"]) == 2
    # cum_docs is the 1-based md5-id rank within the domain
    import hashlib

    a_ids = sorted(
        (hashlib.md5(str(d).encode()).hexdigest(), d)
        for d in range(10)
    )
    for rank, (_, d) in enumerate(a_ids, 1):
        assert out[d]["cum_docs"] == rank
        assert out[d]["selected"] == (rank <= 6)
    with pytest.raises(ValueError, match=">= 0"):
        domain_cap_sample(df, cap=-1)
    with pytest.raises(ValueError, match=">= 0"):
        domain_cap_sample(df, cap=3, caps={"a": -2})


def test_domain_cap_sample_hierarchical_equals_naive(spark):
    """The shared bucketed prefix sum equals one source-wide
    row_number across bucket widths (the token_budget twin check)."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from chroma_rs_spark.operators.sampling import domain_cap_sample

    docs = spark.read.parquet(f"{SF001_DIR}/documents.parquet")
    naive = docs.select(
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .cast("long")
        .alias("cum_docs"),
    )
    want = {r["doc_id"]: r["cum_docs"] for r in naive.collect()}
    for nb in (1, 16, 256):
        got = {
            r["doc_id"]: r["cum_docs"]
            for r in domain_cap_sample(docs, cap=15, n_buckets=nb).collect()
        }
        assert got == want, f"n_buckets={nb}"
