"""End-to-end curation recipe (chroma_rs_spark/curate.py).

A planted corpus where EVERY stage has a victim: a lorem-ipsum page
(C4), a symbol-soup page (Gopher), a nav-bar line shared by most docs
(line dedup), an exact duplicate, a near duplicate, a long shared span
between otherwise-different docs (span CUT), and a 13-gram planted
into ten "carrier" docs (decontamination). The recipe must drop each
at its own stage and the attrition report must account for all of it.

Corpus design constraint (learned the hard way): every sentence
carries a doc-specific marker token at least every 3 words, so two
DIFFERENT documents never share a 13-token run (decontamination
would otherwise drop every non-train doc via the common sentence
frame) and their shingle Jaccard stays far below the 0.7 near-dup
threshold (the span pair must survive stage 5 to reach the span CUT).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chroma_rs_spark.curate import curate_corpus

NAV = "Home | About us page here. Contact and support links here."

# 14 common tokens >= the 13-gram window ("says" .. "mike.")
GRAM = (
    "says alpha bravo charlie delta echo foxtrot golf hotel india "
    "juliet kilo lima mike."
)
CARRIERS = list(range(106, 116))


def _doc(i: int, extra: str = "") -> str:
    # 5 sentences x 15 words, a doc-specific marker (zq{i}?{j}) every
    # <=3 words: passes Gopher (75+ words, stopword-rich, mean word
    # length ~5) and C4 (terminal '.', >=5 words/line), while no two
    # docs share a 13-token run or meaningful shingle overlap
    body = "\n".join(
        f"the zq{i}a{j} keeper saw zq{i}b{j} ships near zq{i}c{j} "
        f"docks and zq{i}d{j} storms with zq{i}e{j} patience."
        for j in range(5)
    )
    return NAV + "\n" + body + (("\n" + extra) if extra else "")


SPAN = (
    "one two three four five six seven eight nine ten eleven twelve "
    "thirteen fourteen fifteen sixteen seventeen eighteen nineteen "
    "twenty twentyone twentytwo twentythree twentyfour twentyfive."
)


def _rows() -> list[tuple[int, str]]:
    rows = [(i, _doc(i)) for i in range(30)]
    rows.append((100, rows[0][1]))          # exact duplicate of doc 0
    # near duplicate of doc 1: same text plus one extra sentence
    rows.append(
        (101, rows[1][1] + "\nthe last light of the evening faded away.")
    )
    # two otherwise-different docs sharing a 25-token span
    rows.append((102, _doc(102, extra=SPAN)))
    rows.append((103, _doc(103, extra=SPAN)))
    # page-level drops
    rows.append((104, _doc(104, extra="lorem ipsum dolor sit amet today.")))
    # symbol soup: 12 '####' of ~93 words -> symbol_ratio ~0.5, over
    # the Gopher 0.1 cap, while C4 still keeps the page
    rows.append(
        (105, ("#### " * 12).strip() + " and then the end came fast.\n"
         + _doc(105).split("\n", 1)[1])
    )
    # repetition soup: passes C4 + the quality rules (140 words,
    # terminal '.', stopword-rich) but one line repeated 6 times of 12
    # -> dup_line_frac 5/12 over the 0.30 cap
    rows.append(
        (117, _doc(117) + "\n"
         + "\n".join(["the rain of sector returned again and again tonight."] * 6))
    )
    # decontamination carriers: a unique line whose tail is the same
    # 14-token run; whichever land outside train must be dropped once
    # any of them lands in train
    for c in CARRIERS:
        rows.append((c, _doc(c, extra=f"carrier c{c}k {GRAM}")))
    return rows


@pytest.fixture(scope="module")
def curated(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus, report = curate_corpus(df, line_min_df=5)
    out = {r["doc_id"]: r for r in corpus.collect()}
    rep = {r["stage"]: r for r in report.collect()}
    return df, out, rep


def test_stage_victims(curated):
    _, out, rep = curated
    # lorem-ipsum page dropped by C4, symbol page by Gopher quality,
    # repeated-line page by the Gopher repetition caps
    assert 104 not in out and 105 not in out and 117 not in out
    # exact duplicate dropped, original kept
    assert 100 not in out and 0 in out
    # near duplicate dropped, original kept
    assert 101 not in out and 1 in out
    # the shared-span pair both SURVIVE (they are not near-dups) but
    # only the globally-first occurrence keeps the span text
    assert 102 in out and 103 in out
    joined = out[102]["text"] + "\n" + out[103]["text"]
    assert joined.count("twentyfive") == 1
    # the nav boilerplate line is gone from every surviving doc
    for r in out.values():
        assert NAV not in r["text"]
    # decontamination: at least one carrier was dropped (the split mix
    # is deterministic — md5-hashed ids), survivors are all train, and
    # nothing BUT carriers is dropped at that stage
    dropped = {d for d, _ in _rows()} - set(out)
    decontam_dropped = dropped - {100, 101, 104, 105, 117}
    assert decontam_dropped and decontam_dropped <= set(CARRIERS)
    for c in set(CARRIERS) & set(out):
        assert out[c]["split"] == "train"
    # every unplanted regular doc survives end-to-end
    assert set(range(30)) - {0, 1} <= set(out)


def test_report_accounting(curated):
    _, out, rep = curated
    order = [
        "input", "c4_filters", "gopher_quality", "gopher_repetition",
        "line_dedup", "exact_dedup", "near_dup_clusters",
        "remove_duplicate_spans", "leakage_safe_split",
        "ngram_decontamination",
    ]
    assert [s for s in order if s in rep] == list(
        dict(sorted(((r["stage_no"], r["stage"]) for r in rep.values()))).values()
    )
    assert rep["input"]["n_docs"] == 47
    assert rep["c4_filters"]["n_docs"] == 46          # lorem page gone
    assert rep["gopher_quality"]["n_docs"] == 45      # symbol page gone
    assert rep["gopher_repetition"]["n_docs"] == 44   # repeated-line page
    # line dedup removes LINES, not docs; token count must drop
    assert rep["line_dedup"]["n_docs"] == 44
    assert rep["line_dedup"]["n_tokens"] < rep["gopher_quality"]["n_tokens"]
    assert rep["exact_dedup"]["n_docs"] == 43
    assert rep["near_dup_clusters"]["n_docs"] == 42
    # span CUT removes tokens, not documents
    assert rep["remove_duplicate_spans"]["n_docs"] == 42
    assert (
        rep["remove_duplicate_spans"]["n_tokens"]
        < rep["near_dup_clusters"]["n_tokens"]
    )
    assert rep["leakage_safe_split"]["n_docs"] == 42
    # decontamination drops the non-train carriers and nothing else
    assert rep["ngram_decontamination"]["n_docs"] < 42
    # doc counts never increase
    counts = [rep[s]["n_docs"] for s in order if s in rep]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    # final corpus matches the last report row
    assert len(out) == rep["ngram_decontamination"]["n_docs"]


def test_no_cross_split_13gram_leak(curated, spark):
    """The decontamination contract, checked from first principles: no
    surviving non-train document shares any 13-token gram with any
    surviving train document."""
    from chroma_rs_spark.operators.dedup import (
        nonempty_tokens_col,
        shingles_col,
    )

    _, out, _ = curated
    rows = [(d, r["text"], r["split"]) for d, r in out.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    grams = df.select(
        "split",
        F.explode(shingles_col(nonempty_tokens_col("text"), 13)).alias("_g"),
    )
    leak = (
        grams.filter(F.col("split") != "train")
        .join(
            grams.filter(F.col("split") == "train").select("_g").distinct(),
            "_g",
            "left_semi",
        )
        .count()
    )
    assert leak == 0


def test_skip_validation_and_passthrough(spark):
    df = spark.createDataFrame([(0, "a b c.")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown skip"):
        curate_corpus(df, skip={"nonsense"})
    # skipping every optional stage leaves split assignment only
    corpus, report = curate_corpus(
        df,
        skip={
            "c4_filters", "gopher_quality", "gopher_repetition",
            "line_dedup", "exact_dedup", "near_dup_clusters",
            "remove_duplicate_spans", "ngram_decontamination",
        },
    )
    rows = corpus.collect()
    assert len(rows) == 1 and rows[0]["text"] == "a b c."
    assert rows[0]["split"] in ("train", "val", "test")
    assert [r["stage"] for r in report.orderBy("stage_no").collect()] == [
        "input",
        "leakage_safe_split",
    ]


def test_checkpoint_dir_bit_equal_and_reloadable(curated, spark, tmp_path):
    """checkpoint_dir= (VERDICT r7 #3): the durable parquet-spill cut
    produces a corpus and report bit-equal to the localCheckpoint run,
    and every stage output is independently re-readable from disk with
    the doc count the report claims for it — the restart contract."""
    df, out, rep = curated
    ckpt = str(tmp_path / "curate_ckpt")
    corpus2, report2 = curate_corpus(df, line_min_df=5, checkpoint_dir=ckpt)

    got = sorted(tuple(r) for r in corpus2.collect())
    want = sorted((d, r["text"], r["split"]) for d, r in out.items())
    assert got == want

    rep2 = {r["stage"]: r for r in report2.collect()}
    assert set(rep2) == set(rep)
    for name, row in rep.items():
        assert (rep2[name]["stage_no"], rep2[name]["n_docs"],
                rep2[name]["n_tokens"]) == (
            row["stage_no"], row["n_docs"], row["n_tokens"])

    # every stage directory is a standalone parquet artifact whose
    # row count matches the report line it produced
    import os

    listing = sorted(os.listdir(ckpt))
    # the reused minhash pair list is its own durable restart artifact
    assert "pairs_minhash" in listing
    assert spark.read.parquet(f"{ckpt}/pairs_minhash").columns == [
        "id_a",
        "id_b",
        "est_jaccard",
    ]
    stage_dirs = [d for d in listing if d.startswith("stage_")]
    assert len(stage_dirs) == len(rep)
    for d in stage_dirs:
        no, name = int(d.split("_")[1]), d.split("_", 2)[2]
        reloaded = spark.read.parquet(f"{ckpt}/{d}")
        assert reloaded.count() == rep[name]["n_docs"], d
        assert rep[name]["stage_no"] == no
        # the documented extra column: per-doc token counts ride the
        # stage artifacts, never the returned corpus
        assert "_nt" in reloaded.columns, d
    assert "_nt" not in corpus2.columns


def test_url_dedup_stage_runs_first(spark):
    """url_col= enables stage 0: two docs with DIFFERENT text but the
    same canonical URL collapse before any content stage sees them —
    content dedup alone could never have caught this pair."""
    rows = [
        (0, "alpha bravo charlie.", "https://EX.com/page/?utm_source=x"),
        (1, "delta echo foxtrot.", "https://ex.com/page"),
        (2, "golf hotel india.", "https://ex.com/other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    corpus, report = curate_corpus(
        df,
        url_col="url",
        skip={
            "c4_filters", "gopher_quality", "gopher_repetition",
            "line_dedup", "exact_dedup", "near_dup_clusters",
            "remove_duplicate_spans", "ngram_decontamination",
        },
    )
    ids = {r["doc_id"] for r in corpus.collect()}
    assert ids == {0, 2}
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert rep["input"] == 3 and rep["url_dedup"] == 2
    # without url_col the stage never runs
    c2, r2 = curate_corpus(
        df.select("doc_id", "text"),
        skip={
            "c4_filters", "gopher_quality", "gopher_repetition",
            "line_dedup", "exact_dedup", "near_dup_clusters",
            "remove_duplicate_spans", "ngram_decontamination",
        },
    )
    assert "url_dedup" not in {r["stage"] for r in r2.collect()}
    assert c2.count() == 3


def test_checkpoint_resume_after_kill_both_windows(curated, spark, tmp_path):
    """Durability under kill (VERDICT r8 next-round #7): a curate run
    dies (a) BETWEEN stages — the checkpoint dir holds a clean prefix
    of stage artifacts and nothing after — and (b) MID-WRITE — the dir
    additionally holds a TORN parquet file for the stage being written
    at kill time. Re-running with the same checkpoint_dir must recover
    in both windows and produce the bit-identical corpus and report of
    an uninterrupted run (every stage write is mode=overwrite into its
    own directory, so a stale or torn artifact is replaced atomically
    before it is ever read back)."""
    import os
    import shutil

    df, out, rep = curated
    want_corpus = sorted((d, r["text"], r["split"]) for d, r in out.items())

    def run(ckpt):
        corpus, report = curate_corpus(df, line_min_df=5, checkpoint_dir=ckpt)
        got = sorted(tuple(r) for r in corpus.collect())
        got_rep = {
            r["stage"]: (r["stage_no"], r["n_docs"], r["n_tokens"])
            for r in report.collect()
        }
        return got, got_rep

    want_rep = {
        name: (row["stage_no"], row["n_docs"], row["n_tokens"])
        for name, row in rep.items()
    }

    ckpt = str(tmp_path / "curate_kill")
    run(ckpt)  # the run that will be "killed"

    # -- crash window A: killed between stages — everything from the
    # near-dup stage on (and the reused pair list) never landed
    for d in sorted(os.listdir(ckpt)):
        if d == "pairs_minhash" or (
            d.startswith("stage_") and int(d.split("_")[1]) >= 5
        ):
            shutil.rmtree(os.path.join(ckpt, d))
    got, got_rep = run(ckpt)
    assert got == want_corpus
    assert got_rep == want_rep

    # -- crash window B: killed MID-WRITE — the exact_dedup stage dir
    # holds a torn part file (front half of a parquet file: readable
    # magic, no footer)
    s_torn = next(
        d for d in os.listdir(ckpt) if d.startswith("stage_") and
        d.endswith("exact_dedup")
    )
    part = next(
        f for f in os.listdir(os.path.join(ckpt, s_torn))
        if f.endswith(".parquet")
    )
    p = os.path.join(ckpt, s_torn, part)
    with open(p, "r+b") as fh:
        fh.truncate(max(4, os.path.getsize(p) // 2))
    # the _SUCCESS marker of the torn stage is also gone in a real kill
    success = os.path.join(ckpt, s_torn, "_SUCCESS")
    if os.path.exists(success):
        os.remove(success)
    got, got_rep = run(ckpt)
    assert got == want_corpus
    assert got_rep == want_rep


def test_normalize_stage_makes_nfc_variants_exact_dupes(spark):
    """normalize=True inserts the CCNet NFC stage before any hash-keyed
    stage: a decomposed and a precomposed rendering of the SAME text
    are different bytes to exact_dedup without it (both survive), and
    one duplicate group with it (min-id keeper wins)."""
    decomposed = "café résumé words words words."
    precomposed = "café résumé words words words."
    assert decomposed != precomposed
    rows = [
        (0, decomposed),
        (1, precomposed),
        (2, "entirely different text here."),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    only_exact = {
        "c4_filters", "gopher_quality", "gopher_repetition", "line_dedup",
        "near_dup_clusters", "remove_duplicate_spans",
        "ngram_decontamination",
    }
    # without normalization both renderings survive exact dedup
    c_raw, _ = curate_corpus(df, skip=only_exact)
    assert {r["doc_id"] for r in c_raw.collect()} >= {0, 1, 2}
    # with it, the pair collapses to the min-id keeper and the ledger
    # names the stage (NULL-text doc drops there, 4 -> 3)
    c_norm, report = curate_corpus(df, normalize=True, skip=only_exact)
    ids = {r["doc_id"] for r in c_norm.collect()}
    assert 0 in ids and 1 not in ids and 2 in ids
    rep = {r["stage"]: r["n_docs"] for r in report.collect()}
    assert rep["input"] == 4 and rep["normalize_text"] == 3
    assert rep["exact_dedup"] == 2


def test_split_keeps_near_dups_together_when_clusters_are_skipped(spark):
    """With near_dup_clusters skipped both near duplicates (1, 101)
    reach the split, which must cluster them: they share one split
    even under weights that split their ids apart."""
    from chroma_rs_spark.operators.sampling import hash_bucket

    df = spark.createDataFrame(_rows(), "doc_id long, text string")
    buckets = dict(
        df.filter(F.col("doc_id").isin(1, 101))
        .select("doc_id", hash_bucket("doc_id").alias("b"))
        .collect()
    )
    assert buckets[1] != buckets[101]
    cut = min(buckets.values()) + 1
    weights = {"train": cut / 10000, "test": 1 - cut / 10000}
    corpus, _ = curate_corpus(
        df, weights, line_min_df=5, skip={"near_dup_clusters"}
    )
    split = {r["doc_id"]: r["split"] for r in corpus.collect()}
    assert 1 in split and 101 in split
    assert split[1] == split[101]


def test_split_stage_skips_clustering_after_near_dup_stage(
    curated, spark, tmp_path, monkeypatch
):
    """Stage 5 keeps one doc per thresholded-pair component, so no pair
    survives to the split and its clusters are the docs themselves:
    the split stage's plan runs no union-find (no MapInPandas), and
    the corpus equals the clustered run's."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = {}
    parquet = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        plans[os.path.basename(path)] = str(
            self._df._jdf.queryExecution().executedPlan().toString()
        )
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    df, out, _ = curated
    corpus, _ = curate_corpus(
        df, line_min_df=5, checkpoint_dir=str(tmp_path / "ckpt")
    )
    stage = {d.split("_", 2)[2]: p for d, p in plans.items() if d.startswith("stage_")}
    # the near-dup stage itself runs the union-find
    assert "MapInPandas" in stage["near_dup_clusters"]
    assert "MapInPandas" not in stage["leakage_safe_split"]
    got = sorted(tuple(r) for r in corpus.collect())
    assert got == sorted((d, r["text"], r["split"]) for d, r in out.items())
