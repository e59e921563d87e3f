"""Unit tests for text-analysis operators."""

import pytest

from chroma_rs_spark.operators.text import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_stats,
)

from tests.conftest import SF001_DIR


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat of the mat and the dog too yes"),
        (2, "der hund und die katze und das haus der garten"),
        (3, "abc abc abc abc abc abc"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_lang_id(docs):
    res = {r["doc_id"]: r for r in lang_id(docs).collect()}
    assert res[1]["predicted_lang"] == "en"
    assert res[2]["predicted_lang"] == "de"
    # no stopwords at all -> all scores 0 -> deterministic tie-break: en
    assert res[3]["predicted_lang"] == "en" and res[3]["lang_score"] == 0


def test_token_stats(docs):
    res = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert res[3]["n_tokens_ws"] == 6
    assert res[3]["n_tokens_re"] == 6
    assert res[3]["n_chars"] == 23
    assert res[3]["avg_token_len"] == 3.0


def test_quality_score(docs):
    res = {r["doc_id"]: r for r in quality_score(docs).collect()}
    # doc 3: 6 tokens, 1 unique, 0 stopwords
    assert res[3]["uniq_ratio"] == round(1 / 6, 6)
    assert res[3]["stopword_ratio"] == 0.0
    expected = round(0.5 * (1 / 6) + 0.3 * 1.0 + 0.2 * (6 / 50), 6)
    assert res[3]["quality"] == expected
    # repetitive doc scores below the varied one
    assert res[3]["quality"] < res[2]["quality"]


def test_doc_fingerprint_deterministic(docs):
    a = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    assert a == b
    assert len(set(a.values())) == 3  # distinct docs -> distinct fingerprints


def test_chunk_documents_windows_and_overlap(spark):
    from chroma_rs_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(11))), (2, "a b")],
        "doc_id LONG, text STRING",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk_size=8, overlap=2).collect()
    )
    # doc 1: 11 tokens, stride 6 -> chunks at 0 (8 toks) and 6 (5 toks)
    assert rows == [
        (1, 0, "t0 t1 t2 t3 t4 t5 t6 t7", 8),
        (1, 1, "t6 t7 t8 t9 t10", 5),
        (2, 0, "a b", 2),  # short doc: one chunk, no padding
    ]
    with __import__("pytest").raises(ValueError):
        chunk_documents(df, chunk_size=4, overlap=4)


def test_bm25_scores_match_oracle_sf0001(spark):
    import duckdb

    from chroma_rs_spark.suite.text import QUERIES

    qd = QUERIES["bm25_scores"]
    got = sorted((r["doc_id"], r["bm25"]) for r in qd.fn(spark, SF001_DIR).collect())
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF001_DIR}/documents.parquet')"
    )
    want = sorted((int(a), float(b)) for a, b in con.sql(qd.oracle).fetchall())
    assert got == want
    # scores are meaningful: common terms hit most docs
    assert sum(1 for _, s in got if s > 0) > len(got) * 0.5


def test_bm25_zero_for_absent_terms(spark):
    from chroma_rs_spark.operators.text import bm25_scores
    from chroma_rs_spark.sources.tables import load_table

    docs = load_table(spark, SF001_DIR, "documents")
    out = bm25_scores(docs, ["zzzznotaword"]).collect()
    assert all(r["bm25"] == 0.0 for r in out)


def test_pack_sequences_basic(spark):
    from chroma_rs_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [
            (1, "a b c", "s1"),          # 3 tokens, start 0
            (2, "d e f g", "s1"),        # 4 tokens, start 3
            (3, "h i j k l m", "s1"),    # 6 tokens, start 7 -> straddles 8
            (4, "x y", "s2"),            # independent group
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    rows = {
        r["doc_id"]: (r["start_offset"], r["bin"], r["offset_in_bin"], r["fits"])
        for r in pack_sequences(docs, budget=8, group_col="source").collect()
    }
    assert rows == {
        1: (0, 0, 0, True),
        2: (3, 0, 3, True),
        3: (7, 0, 7, False),  # starts in bin 0 at offset 7, crosses into bin 1
        4: (0, 0, 0, True),
    }


def test_pack_sequences_matches_oracle(spark):
    import duckdb

    from chroma_rs_spark.suite.text import QUERIES

    qd = QUERIES["pack_sequences"]
    got = sorted(tuple(r) for r in qd.fn(spark, SF001_DIR).collect())
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF001_DIR}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(qd.oracle).fetchall())
    assert got == want


def test_bm25_empty_terms_raises(spark):
    from chroma_rs_spark.operators.text import bm25_scores
    from chroma_rs_spark.sources.tables import load_table

    with pytest.raises(ValueError, match="non-empty"):
        bm25_scores(load_table(spark, SF001_DIR, "documents"), [])


def test_repetition_signals_detects_boilerplate(spark):
    from chroma_rs_spark.operators.text import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),                 # one token repeated
            (2, "alpha beta gamma delta"),              # all unique
            (3, "buy now buy now buy now"),             # repeated bigram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert out[1]["dup_token_frac"] == 0.75 and out[1]["top_token_frac"] == 1.0
    assert out[2]["dup_token_frac"] == 0.0 and out[2]["dup_bigram_frac"] == 0.0
    # 5 bigrams, 2 distinct ("buy now", "now buy") -> dup 1 - 2/5;
    # char coverage = len("buy now")=7 x3 / 23 chars
    assert out[3]["dup_bigram_frac"] == round(1 - 2 / 5, 6)
    assert out[3]["top_bigram_char_frac"] == round(7 * 3 / 23, 6)
    # a spam doc scores strictly worse than a clean one on every signal
    assert out[1]["top_token_frac"] > out[2]["top_token_frac"]


def test_pii_scrub_redacts_and_counts(spark):
    from chroma_rs_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "contact alice.smith+x@example.co.uk or call 5551234567"),
            (2, "clean text with short 12345 number"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_long_digits"] == 1
    assert out[1]["changed"] is True
    import hashlib

    exp = "contact <EMAIL> or call <NUM>"
    assert out[1]["scrubbed_md5"] == hashlib.md5(exp.encode()).hexdigest()
    # 5-digit run is below the 6+ threshold: untouched
    assert out[2]["n_long_digits"] == 0 and out[2]["changed"] is False


def test_tfidf_topk_ranks_rare_terms(spark):
    from chroma_rs_spark.operators.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "shared shared unique1"),
            (2, "shared unique2 unique2"),
            (3, "shared other words"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=2).collect()
    top = {r["doc_id"]: r["term"] for r in out if r["rank"] == 1}
    import math

    # idf(shared, df=3) = ln(4/4)+1 = 1; idf(unique, df=1) = ln(2)+1.
    # doc 1: tf(shared)=2 -> 2.0 beats unique1's 1.693; doc 2:
    # tf(unique2)=2 -> 3.386 beats shared's 1.0
    assert top[1] == "shared" and top[2] == "unique2"
    r1 = next(r for r in out if r["doc_id"] == 1 and r["rank"] == 1)
    assert r1["tfidf"] == 2.0
    r1b = next(r for r in out if r["doc_id"] == 1 and r["rank"] == 2)
    assert r1b["term"] == "unique1"
    assert r1b["tfidf"] == round(1.0 * (math.log((1 + 3) / (1 + 1)) + 1.0), 6)


def test_repetition_signals_keeps_short_docs(spark):
    from chroma_rs_spark.operators.text import repetition_signals

    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two tokens")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    # sub-bigram docs must still get a row, with zeroed bigram signals
    assert set(out) == {1, 2, 3}
    assert out[1]["dup_bigram_frac"] == 0.0
    assert out[1]["top_bigram_char_frac"] == 0.0
    assert out[2]["n_tokens"] == 1  # split('') -> ['']
    assert out[3]["dup_bigram_frac"] == 0.0


def test_pii_scrub_counts_reconcile_with_redactions(spark):
    from chroma_rs_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [(1, "mail me at user1234567@example.com please")],
        "doc_id long, text string",
    )
    r = pii_scrub(docs).collect()[0]
    # the digit run lives inside the email: it is consumed by <EMAIL>
    # and must NOT be double-counted as a <NUM> redaction
    assert r["n_emails"] == 1 and r["n_long_digits"] == 0
    import hashlib

    assert r["scrubbed_md5"] == hashlib.md5(
        b"mail me at <EMAIL> please"
    ).hexdigest()


def test_pack_sequences_edge_texts_match_duckdb(spark):
    """NULL / empty / multi-space texts and duplicate ids replay
    identically in DuckDB under the pinned ordering (NULLS FIRST +
    n_tokens tie-break) — the round-3 driver divergence class."""
    import duckdb
    import pandas as pd

    from chroma_rs_spark.suite.text import _PACK_SEQUENCES_ORACLE

    rows = [
        (1, None, "s1"),
        (2, "", "s1"),
        (3, "a  b", "s1"),        # double space -> empty middle token
        (4, "x y z ", "s1"),      # trailing space -> trailing empty token
        (5, "m n", "s1"),
        (5, "p q r s", "s1"),     # duplicate id, different length
        (6, "lone", None),        # NULL group
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    from chroma_rs_spark.operators.text import pack_sequences

    got = sorted(
        tuple(r) for r in pack_sequences(docs, budget=4, group_col="source").collect()
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"]))
    want = sorted(
        tuple(r)
        for r in con.sql(_PACK_SEQUENCES_ORACLE.replace("2048", "4")).fetchall()
    )
    assert got == want


def test_char_entropy_known_values(spark):
    import math

    from chroma_rs_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa"),        # one symbol -> 0 bits (and +0.0, not -0.0)
            (2, "abab"),        # two equiprobable symbols -> 1 bit
            (3, "abcd"),        # four equiprobable -> 2 bits
            (4, ""),            # empty -> no distribution: 0 chars, NULL bits
            (5, "aab"),         # 2/3,1/3 -> H = log2(3) - 2/3
            (6, None),          # NULL text -> same unscorable shape as empty
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert rows[1]["entropy_bits"] == 0.0
    assert math.copysign(1.0, rows[1]["entropy_bits"]) == 1.0  # +0.0
    assert rows[2]["entropy_bits"] == 1.0
    assert rows[3]["entropy_bits"] == 2.0
    assert rows[5]["entropy_bits"] == round(math.log2(3) - 2 / 3, 6)
    assert rows[1]["n_chars"] == 4 and rows[1]["n_distinct_chars"] == 1
    assert rows[5]["n_chars"] == 3 and rows[5]["n_distinct_chars"] == 2
    # NULL/empty docs keep their row but are unscorable — no fabricated
    # one-''-character distribution (the old wart reported 1 char/0 bits)
    for empty_id in (4, 6):
        assert rows[empty_id]["n_chars"] == 0
        assert rows[empty_id]["n_distinct_chars"] == 0
        assert rows[empty_id]["entropy_bits"] is None


def test_chunk_documents_null_text_yields_no_chunks(spark):
    from chroma_rs_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, None), (2, "a b c"), (3, "    ")], "doc_id LONG, text STRING"
    )
    rows = chunk_documents(df, chunk_size=4, overlap=1).collect()
    assert sorted({r["doc_id"] for r in rows}) == [2, 3]
    by3 = [r for r in rows if r["doc_id"] == 3]
    # all-spaces doc: five empty tokens -> one 4-space chunk (split parity)
    assert by3[0]["chunk_text"] == "   " or by3[0]["chunk_text"].strip() == ""


def test_fingerprint_requires_single_spaced_run(spark):
    """Shingle semantics: k consecutive NON-EMPTY split tokens — the
    regex form and the oracles' filtered string_split now agree on
    multi-space / whitespace-only / NULL docs (round-4 edge-corpus
    hardening)."""
    import duckdb

    from chroma_rs_spark.operators.text import doc_fingerprint
    from chroma_rs_spark.suite.text import _FINGERPRINT_ORACLE

    rows = [
        (1, "a b c d e f"),           # normal
        (2, "a  b c d e f"),          # double space breaks the run
        (3, "     "),                 # whitespace only
        (4, None),                    # null
        (5, " x y z w v "),           # lead/trail spaces
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: r["fingerprint"]
        for r in doc_fingerprint(df, shingle_k=5).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents",
        __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]),
    )
    want = {r[0]: r[1] for r in con.execute(_FINGERPRINT_ORACLE).fetchall()}
    assert got == want


def test_sample_frames_and_features_drop_null_payload(spark):
    from chroma_rs_spark.operators.multimodal import (
        attach_payload,
        extract_media_features,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, "abc"), (2, None)], "doc_id LONG, text STRING"
    )
    p = attach_payload(df)
    feats = extract_media_features(p).collect()
    assert [r["doc_id"] for r in feats] == [1]
    frames = sample_frames(p).collect()
    assert {r["doc_id"] for r in frames} == {1}


def test_duplicate_spans_localizes_misaligned_duplicates(spark):
    """Exact duplicate-span mining (Lee et al. substring-dedup
    primitive): a 40-token boilerplate block shared by two documents at
    MISALIGNED offsets (31 vs 0 — a fixed stride-5 grid would miss it
    entirely, since 31 % 5 != 0) is found in BOTH at content-anchored
    positions, while unique/short/NULL documents report nothing."""
    import hashlib

    from chroma_rs_spark.operators.text import (
        duplicate_span_stats,
        duplicate_spans,
    )

    block_toks = [f"w{i}" for i in range(40)]
    block = " ".join(block_toks)
    uniq_a = " ".join(f"a{i}" for i in range(31))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    uniq_c = " ".join(f"c{i}" for i in range(60))
    df = spark.createDataFrame(
        [
            (1, uniq_a + " " + block),          # block at token offset 31
            (2, block + " " + uniq_b),          # block at token offset 0
            (3, uniq_c),                        # no duplication
            (4, "short doc"),                   # < span_tokens -> no spans
            (5, None),                          # NULL text
        ],
        "doc_id LONG, text STRING",
    )

    # content anchors: position r anchors iff hash32(token[r]) % 5 == 0
    def anchored(tok: str) -> bool:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 5 == 0

    # full 20-token spans inside the block start at rel offsets 0..20
    expected_rel = {r for r in range(21) if anchored(block_toks[r])}
    assert expected_rel, "test block must carry at least one anchor"
    assert 31 % 5 != 0  # the misalignment a fixed grid cannot see

    spans = duplicate_spans(df, span_tokens=20, stride=5).collect()
    by_doc: dict[int, set[int]] = {}
    for r in spans:
        assert r["n_docs"] == 2
        by_doc.setdefault(r["doc_id"], set()).add(r["span_pos"])
    assert by_doc[2] == expected_rel
    assert by_doc[1] == {31 + r for r in expected_rel}
    assert 3 not in by_doc and 4 not in by_doc and 5 not in by_doc
    # hashes match across docs position-for-position
    h1 = {r["span_pos"] - 31: r["span_hash"] for r in spans if r["doc_id"] == 1}
    h2 = {r["span_pos"]: r["span_hash"] for r in spans if r["doc_id"] == 2}
    assert h1 == h2

    stats = {r["doc_id"]: r for r in duplicate_span_stats(
        df, span_tokens=20, stride=5).collect()}
    assert set(stats) == {1, 2, 3, 4, 5}
    n_dup = len(expected_rel)
    assert stats[1]["n_dup_spans"] == n_dup
    assert stats[2]["n_dup_spans"] == n_dup
    n3 = sum(1 for r in range(41) if anchored(f"c{r}"))
    assert stats[3]["n_spans"] == n3 and stats[3]["n_dup_spans"] == 0
    assert stats[3]["dup_ratio"] == (0.0 if n3 > 0 else None)
    for short_id in (4, 5):
        assert stats[short_id]["n_spans"] == 0
        assert stats[short_id]["dup_ratio"] is None
    assert stats[2]["dup_ratio"] == round(n_dup / stats[2]["n_spans"], 6)


def test_lm_perplexity_known_values_and_ordering(spark):
    """Unigram-LM perplexity (CCNet-style quality filter): known-value
    check on a tiny corpus, gibberish scores worse than
    natural-frequency text, and NULL/empty docs are unscorable."""
    import math

    from chroma_rs_spark.operators.text import lm_perplexity

    df = spark.createDataFrame(
        [
            (1, "the the the the"),     # all high-frequency tokens
            (2, "the zyzzyva"),         # one common + one hapax
            (3, ""),
            (4, None),
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in lm_perplexity(df, k_smooth=0.5).collect()}
    # corpus: tokens = [the x5, zyzzyva x1]; N=6, V=2
    p_the = (5 + 0.5) / (6 + 0.5 * 2)
    p_z = (1 + 0.5) / (6 + 0.5 * 2)
    avg1 = round(4 * math.log(p_the) / 4, 6)
    assert rows[1]["avg_logp"] == avg1
    assert rows[1]["perplexity"] == round(math.exp(-avg1), 6)
    avg2 = round((math.log(p_the) + math.log(p_z)) / 2, 6)
    assert rows[2]["avg_logp"] == avg2
    # the hapax-bearing doc is more perplexing than the all-common doc
    assert rows[2]["perplexity"] > rows[1]["perplexity"]
    for empty_id in (3, 4):
        assert rows[empty_id]["n_tokens"] == 0
        assert rows[empty_id]["avg_logp"] is None
        assert rows[empty_id]["perplexity"] is None


def test_duplicate_spans_property_random_offsets(spark):
    """Property: for ANY planted shared block and ANY pair of offsets,
    every in-block anchored span is detected in both documents and
    nothing is detected in documents without shared content. Driven by
    a seeded sweep over offsets/lengths (cheaper than hypothesis for a
    Spark fixture, same guarantee class)."""
    import hashlib
    import random

    from chroma_rs_spark.operators.text import duplicate_spans

    rng = random.Random(17)
    L, S = 10, 3

    def anchored(tok: str) -> bool:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % S == 0

    for trial in range(6):
        blk_len = rng.randint(L, L + 25)
        off1 = rng.randint(0, 17)
        off2 = rng.randint(0, 17)
        block = [f"t{trial}w{i}" for i in range(blk_len)]
        d1 = [f"u{trial}a{i}" for i in range(off1)] + block
        d2 = [f"u{trial}b{i}" for i in range(off2)] + block + ["tailtok"]
        d3 = [f"solo{trial}x{i}" for i in range(30)]
        df = spark.createDataFrame(
            [(1, " ".join(d1)), (2, " ".join(d2)), (3, " ".join(d3))],
            "doc_id LONG, text STRING",
        )
        got = duplicate_spans(df, span_tokens=L, stride=S).collect()
        expected_rel = {
            r for r in range(blk_len - L + 1) if anchored(block[r])
        }
        by_doc: dict[int, set[int]] = {}
        for r in got:
            by_doc.setdefault(r["doc_id"], set()).add(r["span_pos"])
        assert by_doc.get(1, set()) == {off1 + r for r in expected_rel}, (
            trial, off1, off2, blk_len)
        assert by_doc.get(2, set()) == {off2 + r for r in expected_rel}
        assert 3 not in by_doc


def test_remove_duplicate_spans_keeps_first_occurrence(spark):
    """The cut operation: the globally-first occurrence of a duplicated
    block survives, later occurrences are removed; unique text and
    NULL/empty docs pass through under the tokenized-text convention."""
    import hashlib

    from chroma_rs_spark.operators.text import remove_duplicate_spans

    def anchored(tok: str) -> bool:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 5 == 0

    block_toks = [f"w{i}" for i in range(40)]
    assert any(anchored(t) for t in block_toks[:21])
    block = " ".join(block_toks)
    pre2 = " ".join(f"b{i}" for i in range(7))
    df = spark.createDataFrame(
        [
            (1, block),                       # first occurrence -> kept
            (2, pre2 + " " + block),          # later occurrence -> cut
            (3, "unique text entirely here"),
            (4, ""),
            (5, None),
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in remove_duplicate_spans(
        df, span_tokens=20, stride=5).collect()}
    # doc 1 carries the keeper occurrences: nothing removed
    assert rows[1]["n_tokens_removed"] == 0
    assert rows[1]["clean_text"] == block
    # doc 2 loses the covered region but keeps its unique prefix
    assert rows[2]["n_tokens_removed"] > 0
    assert rows[2]["clean_text"].startswith(pre2)
    assert rows[2]["n_tokens"] == 7 + 40
    kept2 = rows[2]["clean_text"].split()
    assert len(kept2) == rows[2]["n_tokens"] - rows[2]["n_tokens_removed"]
    # the corpus shrank only where duplication was
    assert rows[3]["n_tokens_removed"] == 0
    assert rows[3]["clean_text"] == "unique text entirely here"
    assert rows[4]["n_tokens"] == 0 and rows[4]["clean_text"] == ""
    assert rows[5]["n_tokens"] is None and rows[5]["clean_text"] is None


def test_remove_duplicate_spans_keeper_survives_overlapping_removal(spark):
    """Regression (review finding): a removal interval overlapping a
    KEEPER occurrence of a different span must not erode it — keeper
    intervals are inviolate, so every duplicated span's content
    survives intact somewhere in the corpus."""
    import hashlib

    from chroma_rs_spark.operators.text import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    def anchored(tok: str) -> bool:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 5 == 0

    def pick_anchor(prefix: str) -> str:
        return next(f"{prefix}{i}" for i in range(50) if anchored(f"{prefix}{i}"))

    # Y = m0..m19 with anchored first token; X = x0..x9 + m0..m9 with
    # anchored first token. Doc1 (earliest) keeps Y; doc2 keeps X but
    # carries a non-keeper Y at pos 10 overlapping X's interval [0,20);
    # doc3 carries a non-keeper X.
    m = [pick_anchor("m")] + [f"mm{i}" for i in range(19)]
    x = [pick_anchor("x")] + [f"xx{i}" for i in range(9)]
    pad1 = [f"p1_{i}" for i in range(6)]
    pad2 = [f"p2_{i}" for i in range(6)]
    pad3 = [f"p3_{i}" for i in range(6)]
    doc1 = m + pad1                       # Y keeper
    doc2 = x + m + pad2                   # X keeper at 0; Y copy at 10
    doc3 = x + m[:10] + pad3              # X copy (non-keeper)
    df = spark.createDataFrame(
        [(1, " ".join(doc1)), (2, " ".join(doc2)), (3, " ".join(doc3))],
        "doc_id LONG, text STRING",
    )
    spans = duplicate_spans(df, span_tokens=20, stride=5).collect()
    x_hash = hashlib.md5(" ".join(x + m[:10]).encode()).hexdigest()
    y_hash = hashlib.md5(" ".join(m).encode()).hexdigest()
    found = {r["span_hash"] for r in spans}
    assert {x_hash, y_hash} <= found
    out = {r["doc_id"]: r for r in remove_duplicate_spans(
        df, span_tokens=20, stride=5).collect()}
    # Y keeper (doc1) fully intact
    assert out[1]["clean_text"].startswith(" ".join(m))
    # X keeper (doc2): the overlapping Y-removal may NOT erode X's
    # interval [0, 20) — X's 20 tokens survive contiguously
    assert out[2]["clean_text"].startswith(" ".join(x + m[:10]))
    # and doc2 still loses the non-protected tail of its Y copy
    assert out[2]["n_tokens_removed"] > 0
    # doc3's non-keeper X copy is cut
    assert out[3]["n_tokens_removed"] > 0
    # invariant: every duplicated span's content appears contiguously in
    # some cleaned document
    clean_toks = {d: (out[d]["clean_text"] or "").split() for d in out}
    for r in spans:
        content = None
        for d, toks in clean_toks.items():
            joined = " ".join(toks)
            # reconstruct the span content from the original doc
            origs = {1: doc1, 2: doc2, 3: doc3}
            span_toks = origs[r["doc_id"]][r["span_pos"]:r["span_pos"] + 20]
            if " ".join(span_toks) in joined:
                content = d
                break
        assert content is not None, f"span at {r['doc_id']}:{r['span_pos']} lost"


def test_bigram_perplexity_known_values_self_trained(spark):
    """Stupid-backoff bigram LM with train_frac=1.0 (model trained on
    the scored corpus itself): every transition is seen, n_backoff=0,
    and the count-ratio math matches a hand computation."""
    import math

    from chroma_rs_spark.operators.text import bigram_perplexity

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),
            (2, "b a zyz"),
            (3, ""),
            (4, None),
            (5, "solo"),  # 1 token: no transitions, unscorable
        ],
        "doc_id LONG, text STRING",
    )
    rows = {
        r["doc_id"]: r
        for r in bigram_perplexity(df, train_frac=1.0).collect()
    }
    # bigram counts: (a,b):2 (b,a):3 (a,zyz):1; unigrams: a:4 b:3 zyz:1
    avg1 = round(
        (math.log(2 / 4) + math.log(3 / 3) + math.log(2 / 4) + math.log(3 / 3))
        / 4,
        6,
    )
    assert rows[1]["n_transitions"] == 4
    assert rows[1]["n_backoff"] == 0
    assert rows[1]["avg_logscore"] == avg1
    assert rows[1]["perplexity"] == round(math.exp(-avg1), 6)
    avg2 = round((math.log(3 / 3) + math.log(1 / 4)) / 2, 6)
    assert rows[2]["avg_logscore"] == avg2
    # doc2 carries the hapax transition -> more perplexing than doc1
    assert rows[2]["perplexity"] > rows[1]["perplexity"]
    for unscorable in (3, 4, 5):
        assert rows[unscorable]["n_transitions"] == 0
        assert rows[unscorable]["n_backoff"] == 0
        assert rows[unscorable]["avg_logscore"] is None
        assert rows[unscorable]["perplexity"] is None


def test_bigram_perplexity_backoff_branch(spark):
    """With the default half-corpus train split, a held-out document's
    unseen bigrams take the backoff branch: alpha * add-k unigram,
    including the fully-unseen-word case (count 0). Doc ids are chosen
    by replaying the md5 bucket (6,7 train; 1 held-out)."""
    import hashlib
    import math

    from chroma_rs_spark.operators.text import bigram_perplexity

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000

    assert bucket(6) < 5000 and bucket(7) < 5000 and bucket(1) >= 5000

    df = spark.createDataFrame(
        [
            (6, "the cat sat"),       # train
            (7, "the cat ran"),       # train
            (1, "cat the qqq"),       # held out: both bigrams unseen
        ],
        "doc_id LONG, text STRING",
    )
    rows = {
        r["doc_id"]: r
        for r in bigram_perplexity(df, train_frac=0.5, alpha=0.4).collect()
    }
    # train counts: unigrams the:2 cat:2 sat:1 ran:1, N=6 V=4
    # bigrams (the,cat):2 (cat,sat):1 (cat,ran):1
    n, v = 6, 4
    # (cat,the): unseen bigram, seen w2 -> 0.4 * (2+0.5)/(6+0.5*4)
    lp1 = math.log(0.4 * ((2 + 0.5) / (n + 0.5 * v)))
    # (the,qqq): unseen bigram, UNSEEN w2 -> count 0
    lp2 = math.log(0.4 * ((0 + 0.5) / (n + 0.5 * v)))
    avg = round((lp1 + lp2) / 2, 6)
    assert rows[1]["n_transitions"] == 2
    assert rows[1]["n_backoff"] == 2
    assert rows[1]["avg_logscore"] == avg
    # train doc 6: (the,cat) 2/2, (cat,sat) 1/2 — all seen
    avg6 = round((math.log(2 / 2) + math.log(1 / 2)) / 2, 6)
    assert rows[6]["n_backoff"] == 0
    assert rows[6]["avg_logscore"] == avg6
    # held-out gibberish is more perplexing than in-domain text
    assert rows[1]["perplexity"] > rows[6]["perplexity"]


def test_bigram_perplexity_validates_params(spark):
    import pytest as _pytest

    from chroma_rs_spark.operators.text import bigram_perplexity

    df = spark.createDataFrame([(1, "a b")], "doc_id LONG, text STRING")
    with _pytest.raises(ValueError):
        bigram_perplexity(df, train_frac=0.0)
    with _pytest.raises(ValueError):
        bigram_perplexity(df, train_frac=1.5)
    with _pytest.raises(ValueError):
        bigram_perplexity(df, alpha=0.0)


def test_bigram_perplexity_word_order_sensitivity(spark):
    """The reason the bigram model exists: shuffled word salad scores
    worse than the natural-order text the unigram model cannot tell
    apart (identical token multiset -> identical unigram score)."""
    from chroma_rs_spark.operators.text import bigram_perplexity, lm_perplexity

    natural = "the cat sat on the mat and the dog sat on the rug"
    salad = "the the sat cat mat on rug the and on dog sat the"  # same bag
    # both scored docs held out (bucket >= 5000); training docs supply
    # natural-order bigram statistics
    df = spark.createDataFrame(
        [
            (6, natural),
            (7, "the dog sat on the mat and the cat sat on the rug"),
            (1, natural),
            (2, salad),
        ],
        "doc_id LONG, text STRING",
    )
    uni = {r["doc_id"]: r for r in lm_perplexity(df).collect()}
    assert uni[1]["perplexity"] == uni[2]["perplexity"]  # unigram is blind
    bi = {r["doc_id"]: r for r in bigram_perplexity(df).collect()}
    assert bi[2]["perplexity"] > bi[1]["perplexity"]


def test_html_extract_text_planted_page(spark):
    """Script/style/comment content never leaks into text (including a
    '</p>' planted inside a script string and '1 < 2' arithmetic),
    block closes become line breaks while inline tags do not, entities
    decode with '&amp;' last, whitespace normalizes, NULL stays NULL."""
    from chroma_rs_spark.operators.text import html_extract_text

    page = (
        '<html><head><title>T &amp; Co</title>'
        '<style>p { color: red; }</style>'
        '<script>if (1 < 2) { alert("</p> trap"); }</script></head>'
        "<body><!-- secret note -->"
        "<h1>Head</h1>"
        '<p>one <a href="#">link</a> two</p>'
        "<p>three&nbsp;&lt;tag&gt; &quot;q&quot; &#39;a&#39; &amp;lt;</p>"
        "<br/><div>last   line</div></body></html>"
    )
    df = spark.createDataFrame(
        [(1, page), (2, None), (3, "no tags at all"), (4, "broken <unclosed")],
        "doc_id LONG, html STRING",
    )
    rows = {r["doc_id"]: r["text"] for r in html_extract_text(df).collect()}
    lines = rows[1].split("\n")
    assert lines[0] == "T & Co"
    assert "Head" in lines
    # inline <a> did not split the line; block </p> did
    assert "one link two" in lines
    assert 'three <tag> "q" \'a\' &lt;' in lines
    assert "last line" in lines
    for junk in ("secret", "alert", "trap", "color", "1 < 2", "<p>", "</p>"):
        assert junk not in rows[1]
    assert rows[2] is None
    assert rows[3] == "no tags at all"
    # malformed: unterminated '<' survives as text, never throws
    assert rows[4] == "broken <unclosed"


def test_script_profile_known_fracs_and_dominance(spark):
    from chroma_rs_spark.operators.text import script_profile

    df = spark.createDataFrame(
        [
            (1, "hello"),                 # pure latin
            (2, "Привет"),                # pure cyrillic
            (3, "日本語"),                 # cjk
            (4, "ab12"),                  # latin ties digits -> latin (priority)
            (5, "!!! ???"),               # no script class at all
            (6, ""),
            (7, None),
            (8, "αβγ نص"),                # greek vs arabic: 3 > 2 -> greek
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in script_profile(df).collect()}
    assert rows[1]["latin_frac"] == 1.0 and rows[1]["dominant_script"] == "latin"
    assert rows[2]["cyrillic_frac"] == 1.0
    assert rows[2]["dominant_script"] == "cyrillic"
    assert rows[3]["cjk_frac"] == 1.0 and rows[3]["dominant_script"] == "cjk"
    assert rows[4]["latin_frac"] == 0.5 and rows[4]["digit_frac"] == 0.5
    assert rows[4]["dominant_script"] == "latin"  # tie -> priority order
    assert rows[5]["dominant_script"] is None
    assert rows[5]["latin_frac"] == 0.0
    for empty in (6, 7):
        assert rows[empty]["n_chars"] == 0
        assert rows[empty]["latin_frac"] is None
        assert rows[empty]["dominant_script"] is None
    assert rows[8]["dominant_script"] == "greek"
    assert rows[8]["greek_frac"] == round(3 / 6, 6)
    assert rows[8]["arabic_frac"] == round(2 / 6, 6)


def test_bigram_perplexity_empty_train_half_is_unscorable(spark):
    """A corpus whose documents ALL hash outside the train cutoff has
    no model: every scored doc gets NULL scores (never the Infinity a
    double div-by-zero would produce)."""
    import hashlib

    from chroma_rs_spark.operators.text import bigram_perplexity

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000

    ids = [i for i in range(1, 40) if bucket(i) >= 5000][:3]
    df = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in ids],
        "doc_id LONG, text STRING",
    )
    rows = bigram_perplexity(df, train_frac=0.5).collect()
    for r in rows:
        assert r["n_transitions"] == 5
        assert r["n_backoff"] == 5
        assert r["avg_logscore"] is None
        assert r["perplexity"] is None
