"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.3 [EXT]).

Five families, all engine-independent and deterministic:

* exact       — sha2 text hash, group, keep min-id (hash-groupBy; one
                shuffle on the hash, map-side partial agg)
* minhash+LSH — shingle -> K minhashes -> B bands -> bucket join.
                Base hash = first 32 bits of md5(shingle) (md5 is
                bit-identical in every engine: Spark, DuckDB, Python);
                the K minhashes come from one universal-hash family
                (a*x+b mod P) over that single base hash, so signatures
                are reproducible anywhere with ~1/K the hash work of
                re-hashing the string per seed.
* simhash     — 32-bit sign-of-weighted-bit-sums over token hashes
* n-gram Jaccard — inverted-index self-join on shingles (exact)
* embedding cosine — all-pairs (small) / LSH-bucketed (scale)

Scale notes: the LSH path is the 100 TB design point — candidate
generation touches only same-bucket pairs (shuffle keyed on
(band, band_key)); the exact all-pairs variants exist as correctness
baselines and for small collections.  Everything below is pure
DataFrame HOFs — no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chroma_rs_spark.plans import fan_out


def tokens_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def nonempty_tokens_col(text_col: str) -> Column:
    """THE engine-wide non-empty tokenization (split on single space,
    empty strings dropped) as one shared expression — span mining,
    perplexity and their oracles must all agree on this definition
    (the round-4 regex-vs-string_split divergence is the cautionary
    tale for letting copies drift)."""
    return F.expr(f"filter(split(`{text_col}`, ' '), x -> x != '')")


def shingles_col(toks: Column, k: int = 3) -> Column:
    """Token k-grams as strings, order-preserving (0-based SQL arrays).

    Assembled by zipping k shifted slices of the token array
    element-wise. The formulation matters: the obvious
    `transform(sequence(0, n-k), i -> concat(element_at(toks, i+1+j)...))`
    re-evaluates `toks` (a `split(text)`) PER ELEMENT PER POSITION — k
    re-tokenizations per shingle, ~5x slower measured. Slices evaluate
    `toks` once each, so the cost is k splits per ROW, and the whole
    expression is map-side (no shuffle — the previous window/lead
    formulation paid a partitionBy(id) exchange for the same rows).

    Empty result for docs shorter than k tokens.
    """
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, k):
        out = F.zip_with(
            out, F.slice(toks, j + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return out


def exploded_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, shingle) rows — the long form every shingle consumer uses.
    One occurrence per shingle position (duplicates preserved), fully
    map-side: scan -> Generate, no exchange.

    Extraction is a single regex pass: a lookahead anchored at token
    starts captures each overlapping k-gram without materializing the
    token array (1.5x faster than the zip-of-slices array build, which
    pays k splits + k-1 interpreted zip_with per row). Assumes
    single-space-delimited text, same as the `split`-based tokenizer
    and the SQL oracles.
    """
    pat = "(?<=^| )(?=(" + " ".join([r"\S+"] * k) + "))"
    # The regex pass is CPU-bound and a small single-row-group corpus
    # scans as ONE task — fan it out (low gate: text is dense per byte;
    # a wide cluster scan makes this a no-op, see plans/partitioning.py)
    src = fan_out(df.select(id_col, text_col), min_bytes=1 << 19)
    return src.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(1))
        ).alias("shingle"),
    )


# Universal-hash family for minhash: h_i(x) = (a_i*x + b_i) mod P over a
# 32-bit base hash x = int(md5(shingle)[:8 hex]). One md5 per shingle total
# (vs one per shingle PER SEED if each h_i re-hashed the string: 16x the
# hash work), and the min-aggregate compares longs, not 32-char strings.
# Constraints that make it replicate bit-for-bit in ANSI SQL (DuckDB):
# P is the smallest prime > 2^32, a_i odd and < 2^31 so a_i*x < 2^63
# never overflows signed-64 arithmetic in any engine.
MINHASH_P = 4294967311


def minhash_params(num_hashes: int = 16) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs — fixed multiplicative constants,
    shared verbatim by the Spark expressions and the SQL oracles."""
    out = []
    for i in range(num_hashes):
        a = (2654435761 * (i + 1)) % 2147483629 | 1
        b = (2246822519 * (i + 1) + 3266489917) % MINHASH_P
        out.append((a, b))
    return out


def base_hash32(col: str | Column) -> Column:
    """Engine-portable 32-bit hash: first 8 hex chars of md5 as a long."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-row duplicate accounting by exact text hash.

    Returns (id, text_sha, n_copies, keep) — `keep` marks the min-id
    representative of each duplicate group.
    """
    hashed = df.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("text_sha")
    )
    groups = hashed.groupBy("text_sha").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("_keep_id")
    )
    return hashed.join(groups, "text_sha").select(
        id_col,
        "text_sha",
        "n_copies",
        (F.col(id_col) == F.col("_keep_id")).alias("keep"),
    )


def _signature_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_k: int,
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>): one pass over exploded shingle rows —
    hash each shingle ONCE (md5 -> 32-bit int), then compute all K
    minhashes as grouped min-aggregates over the universal-hash family
    (map-side partial min, one shuffle keyed on id). Integer mins beat
    both string mins and K independent md5 calls per shingle. The K
    aggregates + the signature array are parsed SQL STRINGS (one py4j
    parse each) — the composed-Column form costs ~100 py4j round trips
    of plan-build per call, which dedup_clusters pays THREE times per
    bench rep (its iterative fn charges build+run)."""
    sh = exploded_shingles(df, id_col, text_col, shingle_k)
    hashed = sh.select(F.col(id_col), base_hash32("shingle").alias("_h"))
    return hashed.groupBy(id_col).agg(
        *[
            F.expr(f"min((_h * {a} + {b}) % {MINHASH_P})").alias(f"_mh{i}")
            for i, (a, b) in enumerate(minhash_params(num_hashes))
        ]
    ).select(
        id_col,
        F.expr(
            "array(" + ", ".join(f"_mh{i}" for i in range(num_hashes)) + ")"
        ).alias("sig"),
    )


MINHASH_MAX_BUCKET = 1024
# Below this optimizer-estimated corpus size the uncapped quadratic
# worst case is bounded (≲1 MB of text → ≲10⁷ candidate rows even if
# one bucket swallowed the whole corpus) and "auto" resolves to
# uncapped, preserving the historical single-shuffle collision-count
# plan for small corpora and every existing gate row.
MINHASH_AUTO_CAP_BYTES = 1 << 20


def _resolve_max_bucket(
    size_source: DataFrame, max_bucket: int | None | str
) -> int | None:
    """Resolve the ``"auto"`` sentinel with the same optimizer-estimate
    gate as `maybe_broadcast`/`cosine_topk_pairs`: provably
    small corpora keep the uncapped historical behavior; large or
    unknown-size corpora default to `MINHASH_MAX_BUCKET` — the measured
    zipf hot-bucket degeneration (one bucket = 49% of a 50k-doc corpus,
    >15 min uncapped vs seconds capped, SCALE.md) must not be the
    behavior a user gets from the public default (VERDICT r7)."""
    if isinstance(max_bucket, str) and max_bucket != "auto":
        raise ValueError(
            f"max_bucket must be an int, None, or 'auto'; got {max_bucket!r}"
        )
    if max_bucket != "auto":
        return max_bucket  # type: ignore[return-value]
    from chroma_rs_spark.plans.partitioning import plan_size_bytes

    est = plan_size_bytes(size_source)
    if 0 <= est < MINHASH_AUTO_CAP_BYTES:
        return None
    return MINHASH_MAX_BUCKET


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None | str = "auto",
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + LSH banding.

    rows-per-band R = num_hashes // bands. Returns
    (id_a, id_b, est_jaccard) for pairs sharing >=1 band bucket, with
    est_jaccard = fraction of agreeing signature positions.

    `max_bucket` caps band-bucket size: buckets with more members are
    DROPPED from candidate generation (est_jaccard for surviving pairs
    is still the full signature agreement — computed from the
    signatures, never from collision counts, so the cap changes recall
    only, never a returned value). This is the LSH hot-bucket guard:
    on Zipf-distributed text the banded minimum degenerates to a
    corpus-common shingle — measured on a 50k-doc zipf corpus, the
    hottest bucket held 24,722 docs (=3.1e8 pairs from ONE bucket,
    4.4e8 total; the 99.9th-percentile bucket is 166) and the
    uncapped join ran >15 min where the capped one takes seconds. A
    bucket beyond any plausible duplicate-group size carries no
    near-dup signal: a true near-dup pair agrees at ~J*num_hashes
    positions and keeps colliding in the small buckets.

    The default ``"auto"`` size-gates the cap (`_resolve_max_bucket`):
    corpora the optimizer can prove under `MINHASH_AUTO_CAP_BYTES` run
    uncapped (bounded worst case, historical plan bit-for-bit); larger
    or unknown-size corpora get `MINHASH_MAX_BUCKET` so the public
    default survives zipf text. Pass ``None`` explicitly for the
    uncapped path at any size.
    """
    rows_per_band = num_hashes // bands
    assert bands * rows_per_band == num_hashes
    max_bucket = _resolve_max_bucket(
        df.select(id_col, text_col), max_bucket
    )
    sig = _signature_df(df, id_col, text_col, num_hashes, shingle_k)
    # band-key structs as one parsed SQL expression (same plan-build
    # rationale as the signature aggregates above)
    if rows_per_band == 1:
        # band key IS the signature entry — a long, no re-hash needed
        band_sql = ", ".join(
            f"named_struct('band', {b}, 'band_key', element_at(sig, {b + 1}))"
            for b in range(bands)
        )
    else:
        band_sql = ", ".join(
            "named_struct('band', {b}, 'band_key', md5(concat_ws('|', {els})))".format(
                b=b,
                els=", ".join(
                    f"element_at(sig, {b * rows_per_band + r + 1})"
                    for r in range(rows_per_band)
                ),
            )
            for b in range(bands)
        )
    # The bucket join and pair-dedup carry only ids — the shuffle
    # payload stays narrow (at scale candidate pairs ≪ banded rows).
    banded = sig.select(
        id_col, F.explode(F.expr(f"array({band_sql})")).alias("bk")
    )
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
        # two-phase bucket census (map-side combinable), then a semi
        # join — the hot bucket's rows never reach the pair join
        ok = (
            banded.groupBy("bk")
            .agg(F.count(F.lit(1)).alias("_bc"))
            .filter((F.col("_bc") >= 2) & (F.col("_bc") <= max_bucket))
            .select("bk")
        )
        banded = banded.join(ok, "bk", "left_semi")
    left = banded.select(F.col(id_col).alias("id_a"), "bk")
    right = banded.select(F.col(id_col).alias("id_b"), "bk")
    if rows_per_band == 1 and max_bucket is None:
        # With 1-row bands, a band collision IS a signature-position
        # match, so counting collisions per pair gives the agreement
        # fraction directly — no signature re-join, one narrow shuffle.
        return (
            left.join(right, "bk")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_n_match"))
            .select(
                "id_a",
                "id_b",
                (F.col("_n_match").cast("double") / F.lit(float(num_hashes))).alias(
                    "est_jaccard"
                ),
            )
        )
    pairs = (
        left.join(right, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (matches.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash over whitespace tokens (term-frequency weighted),
    `bits` in 1..64 (32 keeps the historical fingerprint row stable;
    the banded pair miner defaults to 64 — see simhash_near_pairs).

    Token hash = the first bits/4 hex chars of md5 as an integer —
    reproducible in any engine with md5 + hex parsing. The 64-bit form
    lands in SIGNED two's complement via a shifted-high-word
    reconstruction that never overflows on either engine:
    signed32(hi) * 2^32 + lo.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash bits must be in 1..64, got {bits}")
    # hash each token once behind an explode boundary — computing the
    # md5 inside all the bit-sum expressions would redo it per bit
    tok = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("_t"))
    if bits <= 32:
        hash_expr = (
            F.conv(F.substring(F.md5("_t"), 1, 8), 16, 10)
            .cast("long")
            .alias("_h")
        )
    else:
        # two 32-bit md5 words -> signed 64-bit: hi in [0, 2^32) maps
        # to signed32 in [-2^31, 2^31), so signed32*2^32 + lo spans
        # exactly the signed-long range with no intermediate overflow
        hash_expr = F.expr(
            "(CASE WHEN conv(substring(md5(_t), 1, 8), 16, 10) >= 2147483648"
            " THEN CAST(conv(substring(md5(_t), 1, 8), 16, 10) AS BIGINT)"
            "      - 4294967296"
            " ELSE CAST(conv(substring(md5(_t), 1, 8), 16, 10) AS BIGINT)"
            " END) * 4294967296"
            " + CAST(conv(substring(md5(_t), 9, 8), 16, 10) AS BIGINT)"
        ).alias("_h")
    hashed = tok.select(id_col, hash_expr)
    # the bit-sums and the fingerprint recombine are built as SQL
    # expression STRINGS (one py4j parse each) instead of composed
    # Column trees (hundreds of py4j round-trips) — measured ~1.2 s of
    # driver-side plan-build for the tree form vs ~0.1 s parsed; the
    # analyzed plans are identical.
    #
    # Bit-count packing: instead of one sum() aggregate per bit (32
    # buffers updated per token — the round-3 hot spot, 10x its DuckDB
    # twin), pack FOUR per-bit one-counts into 16-bit fields of a
    # single long, so the aggregate maintains bits/4 sums + one count.
    # Fields never carry into each other while every per-field count
    # stays < 2^16, i.e. documents up to 65,535 tokens — far above any
    # real document (enforce upstream chunking before hashing longer
    # blobs). The sign test sum(±1) > 0 is equivalently
    # 2*ones - n > 0, recovered per bit from the packed fields.
    ngroups = (bits + 3) // 4
    packs = [
        F.expr(
            "sum("
            + " + ".join(
                f"((shiftright(_h, {4 * g + f}) & 1) << {16 * f})"
                for f in range(4)
                if 4 * g + f < bits
            )
            + ")"
        ).alias(f"_p{g}")
        for g in range(ngroups)
    ]
    bit_df = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"), *packs
    )
    # bit 63 is -2^63 in the signed fold (the audio-ahash discipline):
    # the literal 1<<63 overflows BIGINT on both engines
    fingerprint = " + ".join(
        f"(CASE WHEN 2 * (shiftrightunsigned(_p{j // 4}, {16 * (j % 4)})"
        f" & 65535) > _n THEN CAST({-(1 << 63) if j == 63 else (1 << j)}"
        " AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return bit_df.select(F.col(id_col), F.expr(fingerprint).alias("simhash"))


# Default document-frequency cutoff for the shingle inverted index:
# a shingle appearing in more than this many documents is treated as
# boilerplate and excluded from PAIR GENERATION (set sizes still count
# it). Bounds the per-shingle pair blowup at max_df^2/2; mirrored
# verbatim into the DuckDB oracles that check the consumers.
SHINGLE_MAX_DF = 1000


# Salting for the max_df=None exact-verification join (guide §2.5,
# VERDICT r13 #5): a shingle with df postings emits df²/2 pairs from
# ONE sort-merge key group = one task. With no df cutoff (ground truth
# must not drop hot shingles) a corpus-common shingle serializes the
# whole join on a single straggler — minhash_accuracy's 347 s wall at
# sf1.0. Hot shingles (df > 2x target) split into ceil(df/target)
# salt groups: the left side picks ONE deterministic salt per posting,
# the right side replicates across all of them, so every pair still
# meets exactly once while the df² work spreads over ~df/target tasks.
SHINGLE_SALT_TARGET = 128
# Below this optimizer-estimated corpus size the worst-case single
# group is bounded (df <= |docs| and |docs|² pairs is small) and the
# census + broadcast + explode machinery costs more than it saves.
SHINGLE_SALT_MIN_BYTES = 4 << 20


def _resolve_salt(size_source: DataFrame, salt: bool | str) -> bool:
    """Resolve the ``"auto"`` sentinel with the same optimizer-estimate
    gate as `_resolve_max_bucket`: provably small corpora skip the
    salting machinery; large or unknown-size corpora get it."""
    if isinstance(salt, str) and salt != "auto":
        raise ValueError(f"salt must be a bool or 'auto'; got {salt!r}")
    if salt != "auto":
        return bool(salt)
    from chroma_rs_spark.plans.partitioning import plan_size_bytes

    est = plan_size_bytes(size_source)
    return not (0 <= est < SHINGLE_SALT_MIN_BYTES)


def shingle_pair_intersections(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    max_df: int | None = SHINGLE_MAX_DF,
    salt: bool | str = "auto",
) -> DataFrame:
    """(id_a, id_b, n_inter, size_a, size_b) for every document pair
    sharing at least one k-gram shingle with document frequency
    <= max_df — the inverted-index core that Jaccard and containment
    scoring both consume. The join is keyed on the shingle, so only
    documents sharing content ever meet — at 100 TB this is the
    difference between |pairs-sharing-content| and |all-pairs|.

    The `max_df` cutoff (None disables) is the standard boilerplate
    guard: one hot shingle ("click here to subscribe") otherwise emits
    |postings|^2/2 pairs from a single aggregation group — the
    quadratic skew-killer at corpus scale. Set sizes are computed
    BEFORE the cutoff, so n_inter counts only low-df shared shingles
    while size_a/size_b remain the true shingle-set sizes (the
    conservative direction: scores can only drop for pairs whose
    overlap is boilerplate).

    `salt` (only meaningful with max_df=None, where no cutoff bounds a
    hot shingle's group): split high-df shingles' pair generation
    across `ceil(df / SHINGLE_SALT_TARGET)` salt sub-groups so the df²
    pair stream parallelizes instead of serializing on one task. Pure
    plan change — every pair still meets exactly once, all values
    identical (pinned by tests). Default "auto" size-gates the census
    like `max_bucket`'s gate; pass True/False to force.
    """
    # Single linear pipeline — the shingle stage is computed once and
    # set sizes ride along through the inverted index, instead of a
    # 3-way reuse (sizes + both self-join sides) that would recompute
    # the tokenizer pipeline three times:
    #   shingles -> per-doc shingle sets (set size attached)
    #   -> inverted index (explode) -> per-shingle doc list
    #   -> pairs generated map-side from each list -> count = |inter|
    # (A map-side set build — array_distinct(transform(regex_array,
    # xxhash64)) with no groupBy(doc) shuffle — was measured SLOWER
    # here, 2.3 s vs 1.6 s at sf0.1: Spark evaluates higher-order
    # lambdas interpreted, so the per-element hash + distinct costs
    # more CPU than the codegen explode/hash/collect_set path pays in
    # shuffle. Revisit if HOFs ever reach whole-stage codegen.)
    sh = exploded_shingles(df, id_col, text_col, shingle_k)
    # Carry 8-byte shingle hashes, not ~40-byte strings, through the
    # set-dedup / explode / postings join — the whole pipeline only
    # compares shingles for equality, never reads them back. xxhash64
    # collisions would merge distinct shingles; at ~1e8 distinct
    # shingles the birthday bound is ~1e-4 expected collisions, and a
    # single collision shifts one n_inter by 1 — acceptable for a
    # similarity measure (and beyond ~1e9 shingles, concat a second
    # seed's hash to go to 128 bits). The DuckDB oracle compares string
    # shingles (hash-domain note: a collision could in principle flip a
    # threshold pair; none occurs in the driver corpora).
    sh = sh.select(id_col, F.xxhash64("shingle").alias("shingle"))
    docsets = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_set("shingle")).alias("_set")
    )
    # The set relation feeds THREE consumers (the df-cutoff agg and
    # both self-join sides); Catalyst does not reuse the exchange
    # across them (verified: 4 scans, 0 ReusedExchange in the executed
    # plan), so without materialization the tokenize+hash+collect_set
    # pass — the expensive stage — runs 3x. One row per doc with the
    # hashed set array (~8 B/distinct shingle), the persisted
    # inverted-index artifact a 100 TB curation run would write to
    # storage anyway; lazy so the operator stays plan-only until acted.
    docsets = docsets.localCheckpoint(eager=False)
    inv = docsets.select(
        F.col(id_col).alias("id"),
        F.size("_set").alias("sz"),
        F.explode("_set").alias("shingle"),
    )
    # Per-shingle postings list -> all (a<b) pairs, both sizes attached;
    # Pair generation as a STREAMING SELF-JOIN on the posting rows
    # (round 13 — the sf1.0 suite stress run's find). The previous
    # form collected each shingle's postings into an array and paired
    # via posexplode-carrying-the-array + explode(slice(...)): every
    # posexplode output row copies the WHOLE postings array into its
    # UnsafeRow, so a shingle with n postings materializes O(n^2)
    # BYTES before emitting its O(n^2) pairs. At sf0.1 (max df ~20,
    # 6.4 KB/shingle) that is invisible; on the 10x replica-dense
    # corpus (df ~200, ~640 KB/shingle, ~hundreds of GB total) it
    # timed dedup_ngram_jaccard out at >420 s and put
    # dedup_containment at 377 s. The equi-join form shuffles the
    # SAME keyed rows but streams pair rows (3 narrow columns)
    # straight into the partial aggregate — no array materialization
    # at any df. Measured warm at sf1.0 (50k docs, 10x replica-dense):
    # jaccard >420 s (timeout) -> 145 s, containment 377 s -> 135 s,
    # sf0.1 ~3 s unchanged, all consumer rows still bit-green. The
    # remaining sf1.0 cost tracks |intersecting pairs| (~100x sf0.1 on
    # this corpus because every doc gains 10 near-identical replicas)
    # — the workload's true size, not a plan artifact.
    if max_df is not None:
        # per-shingle df cutoff: skew-safe partial agg (map-side
        # combine, no giant groups on one reducer) + semi-join; also
        # drops df=1 shingles, which can pair with nothing
        ok = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter((F.col("_df") >= 2) & (F.col("_df") <= max_df))
            .select("shingle")
        )
        inv = inv.join(ok, "shingle", "left_semi")
    left = inv.select(
        "shingle", F.col("id").alias("id_a"), F.col("sz").alias("size_a")
    )
    right = inv.select(
        "shingle", F.col("id").alias("id_b"), F.col("sz").alias("size_b")
    )
    join_keys = ["shingle"]
    if max_df is None and _resolve_salt(df.select(id_col, text_col), salt):
        # hot-shingle census (map-side combinable, |shingles| groups)
        # -> per-shingle salt fan-out; the hot set is tiny (shingles
        # with df > 2x target) and broadcast
        hot = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_hdf"))
            .filter(F.col("_hdf") > 2 * SHINGLE_SALT_TARGET)
            .select(
                "shingle",
                F.ceil(F.col("_hdf") / SHINGLE_SALT_TARGET)
                .cast("int")
                .alias("_ns"),
            )
        )
        # left: ONE deterministic salt per posting (xxhash64 of the id,
        # guide §2.5 — never rand()); right: replicated across all
        # salts of a hot shingle, single copy (salt 0) elsewhere
        left = left.join(F.broadcast(hot), "shingle", "left").select(
            "shingle",
            F.coalesce(
                F.pmod(F.xxhash64("id_a"), F.col("_ns")).cast("int"),
                F.lit(0),
            ).alias("_salt"),
            "id_a",
            "size_a",
        )
        right = right.join(F.broadcast(hot), "shingle", "left").select(
            "shingle",
            F.explode(
                F.sequence(
                    F.lit(0), F.coalesce(F.col("_ns"), F.lit(1)) - F.lit(1)
                )
            ).alias("_salt"),
            "id_b",
            "size_b",
        )
        join_keys = ["shingle", "_salt"]
    # merge (SMJ): the posting relation is corpus-sized. A broadcast
    # pick ships every posting row through the driver (the
    # maxResultSize failure class found at sf1.0 in minhash_accuracy's
    # max_df=None instantiation), and shuffle_hash builds per-partition
    # maps that cannot spill — a hot shingle's partition OOMs (observed
    # at sf1.0). Sort-merge spills on both sides and streams each
    # key group, the only strategy safe at every df distribution.
    pairs = left.join(right.hint("merge"), join_keys).filter(
        F.col("id_a") < F.col("id_b")
    )
    # group on the 2-long pair key only; sizes are functionally
    # determined by the ids, so they ride through as first() — cheaper
    # hashing than a 4-column key on the million-row pair set
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_inter"),
        F.first("size_a").alias("size_a"),
        F.first("size_b").alias("size_b"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    top_n: int | None = 20,
    max_df: int | None = SHINGLE_MAX_DF,
) -> DataFrame:
    """Exact n-gram Jaccard over the shingle-intersection core
    (shingle_pair_intersections — see its docstring for the plan and
    the max_df boilerplate cutoff)."""
    inter = shingle_pair_intersections(df, id_col, text_col, shingle_k, max_df)
    jac = inter.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    )
    if top_n is not None:
        jac = jac.orderBy(
            F.col("jaccard").desc(), F.col("id_a"), F.col("id_b")
        ).limit(top_n)
    return jac


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = SHINGLE_MAX_DF,
) -> DataFrame:
    """Shingle CONTAINMENT near-dup pairs: C(A in B) = |A ∩ B| / |A|.

    Symmetric Jaccard misses the doc-inside-doc case (a short document
    wholly quoted inside a long one scores low Jaccard but containment
    ~1) — the curation screen for boilerplate-wrapped and
    quote-inflated duplicates. Returns pairs where EITHER direction's
    containment reaches `threshold`, with both directions reported
    (round-6 doubles). Same inverted-index core as Jaccard: no
    all-pairs anywhere.
    """
    inter = shingle_pair_intersections(df, id_col, text_col, shingle_k, max_df)
    ca = F.round(
        F.col("n_inter").cast("double") / F.col("size_a").cast("double"), 6
    )
    cb = F.round(
        F.col("n_inter").cast("double") / F.col("size_b").cast("double"), 6
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            ca.alias("containment_a"),
            cb.alias("containment_b"),
        )
        .filter(
            (F.col("containment_a") >= F.lit(threshold))
            | (F.col("containment_b") >= F.lit(threshold))
        )
    )


# portable normalization: lowercase, non-alphanumeric -> space,
# collapse runs, trim — character classes only, identical in Java
# regex and RE2
_NORM_PATTERN = "[^a-z0-9]+"


def normalized_text(text_col: str | Column = "text") -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(F.lower(c), _NORM_PATTERN, " "))


def exact_dedup_normalized(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """exact_dedup over NORMALIZED text (lowercase, punctuation and
    whitespace runs folded to single spaces): catches the
    trivially-reformatted copies byte-exact hashing misses — the first
    escalation step of every dedup ladder (exact -> normalized ->
    near-dup). Same one-shuffle plan as exact_dedup."""
    hashed = df.select(
        F.col(id_col), F.sha2(normalized_text(text_col), 256).alias("norm_sha")
    )
    groups = hashed.groupBy("norm_sha").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("_keep_id")
    )
    return hashed.join(groups, "norm_sha").select(
        id_col,
        "norm_sha",
        "n_copies",
        (F.col(id_col) == F.col("_keep_id")).alias("keep"),
    )


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band, band_key): the PERSISTABLE minhash index rows for
    incremental dedup — write these next to the corpus once, and every
    new batch dedups against them without re-reading old text
    (`incremental_minhash_pairs`). With rows-per-band == 1 (the only
    supported config here) the band key IS the signature entry, so the
    index is also the full signature — nothing else to persist.

    At 100 TB this is the standard curation shape: the index is
    |corpus| x bands narrow long rows (~256 B/doc at 16 bands),
    bucket-partitionable by band_key so the incremental join
    co-locates.
    """
    if num_hashes != bands:
        raise ValueError(
            "minhash_band_index supports rows-per-band == 1 "
            f"(num_hashes == bands); got {num_hashes=}, {bands=}"
        )
    sig = _signature_df(df, id_col, text_col, num_hashes, shingle_k)
    return sig.select(
        F.col(id_col).alias("id"),
        F.posexplode("sig").alias("band", "band_key"),
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None | str = "auto",
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs INVOLVING the new batch: new-vs-corpus
    and new-vs-new, against a persisted `minhash_band_index` — the
    incremental form of `minhash_lsh_pairs`, so a daily ingest never
    re-mines the |corpus|^2 history.

    Returns (id_a, id_b, est_jaccard, vs_corpus) with id_a < id_b and
    the same est_jaccard the full-corpus miner computes (band-collision
    count / num_hashes — exact under rows-per-band == 1). Contract:
    new ids are disjoint from indexed ids (append-only corpus).
    Completeness: full-corpus pairs over (corpus ∪ new) ==
    pairs-within-corpus (mined when the index was built) ∪ this result
    — pinned by tests/test_incremental_dedup.py.

    `max_bucket` is the same hot-bucket guard as `minhash_lsh_pairs`:
    bucket sizes are measured over corpus ∪ new (the true bucket a
    daily ingest joins into — ONE degenerate index bucket would
    otherwise cost |new ∩ bucket| x |bucket| rows on EVERY batch), and
    est_jaccard for surviving candidates is recomputed from the full
    band sets of both members, so the cap changes recall only. The
    default ``"auto"`` size-gates on the persisted index (the side a
    degenerate bucket lives in), like `minhash_lsh_pairs`.
    """
    if num_hashes != bands:
        raise ValueError(
            "incremental_minhash_pairs supports rows-per-band == 1 "
            f"(num_hashes == bands); got {num_hashes=}, {bands=}"
        )
    max_bucket = _resolve_max_bucket(band_index, max_bucket)
    # `new_index`: callers that also PERSIST the batch's band rows (the
    # streaming ingest) pass the index they already built so each
    # document's signature is computed exactly once per batch — the
    # md5-over-shingles pass is the batch's dominant compute term
    new_idx = (
        new_index
        if new_index is not None
        else minhash_band_index(
            new_docs, id_col, text_col, num_hashes, bands, shingle_k
        )
    )
    old = band_index.select(
        "band", "band_key", F.col("id").alias("_oid"), F.lit(False).alias("_new")
    )
    new_r = new_idx.select(
        "band", "band_key", F.col("id").alias("_oid"), F.lit(True).alias("_new")
    )
    right = old.unionByName(new_r)
    left = new_idx.select("band", "band_key", F.col("id").alias("_nid"))
    # each unordered pair matches once per agreeing band: new-vs-corpus
    # pairs orient (new, old); new-vs-new pairs keep only the
    # (smaller, larger) orientation
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
        ok = (
            right.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("_bc"))
            .filter((F.col("_bc") >= 2) & (F.col("_bc") <= max_bucket))
            .select("band", "band_key")
        )
        cand = (
            left.join(ok, ["band", "band_key"], "left_semi")
            .join(
                right.join(ok, ["band", "band_key"], "left_semi"),
                ["band", "band_key"],
            )
            .filter((~F.col("_new")) | (F.col("_nid") < F.col("_oid")))
            .select("_nid", "_oid", "_new")
            .distinct()
        )
        # full agreement from the band sets of BOTH members (the
        # capped batch path's signature re-join, in index-row form)
        all_idx = band_index.select("id", "band", "band_key").unionByName(
            new_idx.select("id", "band", "band_key")
        )
        a_keys = all_idx.select(
            F.col("id").alias("_nid"), "band", F.col("band_key").alias("_ka")
        )
        b_keys = all_idx.select(
            F.col("id").alias("_oid"), "band", F.col("band_key").alias("_kb")
        )
        agree = (
            cand.join(a_keys, "_nid")
            .join(b_keys, ["_oid", "band"])
            .groupBy("_nid", "_oid", "_new")
            .agg(
                F.sum(
                    (F.col("_ka") == F.col("_kb")).cast("int")
                ).alias("_n_match")
            )
        )
        return agree.select(
            F.least("_nid", "_oid").alias("id_a"),
            F.greatest("_nid", "_oid").alias("id_b"),
            (
                F.col("_n_match").cast("double") / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
            (~F.col("_new")).alias("vs_corpus"),
        )
    hits = left.join(right, ["band", "band_key"]).filter(
        (~F.col("_new")) | (F.col("_nid") < F.col("_oid"))
    )
    agree = hits.groupBy("_nid", "_oid", "_new").agg(
        F.count(F.lit(1)).alias("_n_match")
    )
    return agree.select(
        F.least("_nid", "_oid").alias("id_a"),
        F.greatest("_nid", "_oid").alias("id_b"),
        (F.col("_n_match").cast("double") / F.lit(float(num_hashes))).alias(
            "est_jaccard"
        ),
        (~F.col("_new")).alias("vs_corpus"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Cross-document LINE-level deduplication — the CCNet / RefinedWeb
    boilerplate-removal primitive (Wenzek et al. LREC 2020 §3.1; Penedo
    et al. 2023 §3.3, "line-wise corrections"): a trimmed non-empty
    line that occurs in >= `min_df` DISTINCT documents is boilerplate
    (nav bars, cookie banners, copyright footers) and every occurrence
    is removed from every document. Complements the token-shingle span
    ops (`duplicate_span_stats` / `remove_duplicate_spans`): spans
    catch verbatim PROSE reuse at arbitrary alignment; line dedup
    catches the structural template text that dominates web corpora.

    Returns (id, n_lines, n_lines_removed, text_clean); NULL text keeps
    its row with NULL stats (the unscorable convention).

    Scale shape (100 TB): document text NEVER shuffles on a line key,
    and the per-doc line dedup is FREE — it happens map-side inside
    the row (`array_distinct` over the doc's own line hashes), so no
    corpus-wide (doc, line) distinct shuffle exists at all:
    1. per-line distinct-doc counts are one groupBy over the already-
       per-doc-distinct hash rows — map-side partial aggregation means
       the reducer holding a hot boilerplate line receives at most one
       partial row per map task (the two-phase property of
       `plans/skew.py:count_distinct_twophase`, with phase 1 free);
    2. the banned-line join back is keyed on the line hash and only
       BANNED rows reach the per-doc collect_set — shuffle volume is
       O(boilerplate occurrences), not O(corpus);
    3. the final join on the doc id carries one small array per
       affected doc (AQE broadcasts it when it fits), and the line
       filter + reassembly run map-side inside the scan.
    """
    nl = "\n"
    # fan the per-row split/trim/md5 work across cores — a small-file
    # scan otherwise runs it single-partition (round-6 lesson); no-op
    # at scale
    base = fan_out(
        df.select(
            F.col(id_col),
            F.col(text_col).alias("_txt"),
            F.split(F.col(text_col), nl).alias("_lines"),
        ),
        min_bytes=1 << 19,
    )
    # per-doc DISTINCT trimmed-line hashes, computed inside the row —
    # the (doc, line) dedup a corpus-wide distinct() used to pay a
    # full shuffle for (round-7)
    occ1 = base.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(filter(_lines, x -> trim(x) != ''),"
                    " x -> md5(trim(x)))"
                )
            )
        ).alias("_h"),
    )
    counts = occ1.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    banned = counts.filter(F.col("_df") >= int(min_df)).select("_h")
    # only rows whose line IS banned survive to the per-doc aggregation
    banned_per_doc = (
        occ1.join(banned, "_h")
        .groupBy(id_col)
        .agg(F.collect_set("_h").alias("_banned"))
    )
    out = base.join(banned_per_doc, id_col, "left")
    kept = F.when(
        F.col("_banned").isNull(), F.col("_lines")
    ).otherwise(
        F.filter(
            F.col("_lines"),
            lambda x: ~F.array_contains(F.col("_banned"), F.md5(F.trim(x))),
        )
    )
    return out.select(
        id_col,
        F.when(F.col("_txt").isNotNull(), F.size("_lines"))
        .cast("long")
        .alias("n_lines"),
        F.when(F.col("_txt").isNotNull(), F.size("_lines") - F.size(kept))
        .cast("long")
        .alias("n_lines_removed"),
        F.when(F.col("_txt").isNotNull(), F.array_join(kept, nl)).alias(
            "text_clean"
        ),
    )


def minhash_accuracy(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 16,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None | str = "auto",
) -> DataFrame:
    """Per-candidate-pair MinHash estimation error vs exact shingle
    Jaccard — the evaluation the dedup family owes its users, exactly
    as `ann_recall` is the one the ANN family owes (an estimator whose
    error is assumed rather than measured is a guess): for every pair
    the LSH miner surfaces, (id_a, id_b, est_jaccard, exact_jaccard,
    abs_err). A candidate pair sharing NO shingle (pure band-hash
    collision) scores exact 0 and its est_jaccard IS the error.

    Scale shape: the exact side's inverted index is built only over
    DOCUMENTS THAT APPEAR IN A CANDIDATE PAIR (a left-semi restriction
    before `shingle_pair_intersections`) — at 100 TB the verification
    touches the miner's output set, never the corpus; max_df=None is
    correct here BECAUSE the universe is already candidate-restricted
    (the ground truth must not drop hot shingles).
    """
    cands = minhash_lsh_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        max_bucket=max_bucket,
    # the pair list feeds BOTH the universe restriction and the final
    # join; lazy checkpoint so the shingle->hash->band plan executes
    # once (the curate_corpus duplicate-minhash-pass class)
    ).localCheckpoint(eager=False)
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sub = df.join(cand_ids, id_col, "left_semi")
    inter = shingle_pair_intersections(
        sub,
        id_col,
        text_col,
        shingle_k,
        max_df=None,
        # resolve the hot-shingle salting gate on the RAW corpus (known
        # optimizer estimate); `sub` sits behind a semi-join against a
        # checkpointed pair list, whose size estimate is unknown and
        # would force the census machinery on at every scale
        salt=_resolve_salt(df.select(id_col, text_col), "auto"),
    )
    exact = inter.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
            6,
        ).alias("exact_jaccard"),
    )
    # merge (SMJ): `exact` is |candidate pairs|-sized (GBs on a
    # dup-dense corpus — the sf1.0 run broke the 1 GiB driver result
    # ceiling when the planner broadcast it); sort-merge spills
    # instead of building an unspillable map
    return cands.join(exact.hint("merge"), ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "est_jaccard",
        F.coalesce("exact_jaccard", F.lit(0.0)).alias("exact_jaccard"),
        F.round(
            F.abs(
                F.col("est_jaccard") - F.coalesce("exact_jaccard", F.lit(0.0))
            ),
            6,
        ).alias("abs_err"),
    )


def lsh_collision_prob(s: float, bands: int, rows_per_band: int) -> float:
    """P(candidate | Jaccard s) for banded MinHash LSH:
    1 - (1 - s^r)^b — the S-curve every (bands, rows) choice trades
    recall against candidate volume along."""
    return 1.0 - (1.0 - s**rows_per_band) ** bands


def plan_lsh_bands(
    threshold: float, num_hashes: int = 16
) -> tuple[int, int]:
    """(bands, rows_per_band) whose S-curve midpoint (1/b)^(1/r) sits
    closest to `threshold`, among the divisors of `num_hashes` — the
    standard planning rule (Leskovec/Rajaraman/Ullman, MMDS §3.4.3):
    pairs above the midpoint are mostly caught, pairs below mostly
    skipped, so aiming the midpoint at the dedup threshold minimizes
    both misses and wasted candidate pairs. Deterministic; ties prefer
    MORE bands (recall over candidate volume — a missed duplicate is
    data contamination, an extra candidate is one verify row).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    best: tuple[float, int, int] | None = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r != 0:
            continue
        b = num_hashes // r
        mid = (1.0 / b) ** (1.0 / r) if b > 1 else 1.0
        err = abs(mid - threshold)
        # ties (same err) fall to the larger b because r ascends and
        # strictly-better only replaces
        if best is None or err < best[0]:
            best = (err, b, r)
    assert best is not None
    return best[1], best[2]


def lsh_recall(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 16,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None | str = "auto",
) -> DataFrame:
    """One row (n_true, n_caught, recall): of all document pairs whose
    EXACT shingle Jaccard reaches `threshold`, the fraction the banded
    MinHash miner surfaces as candidates — the recall number
    `plan_lsh_bands` promises and this measures (completing the eval
    trilogy: `ann_recall` for the ANN index, `minhash_accuracy` for
    the estimator, `lsh_recall` for the candidate generator).

    Ground truth needs no all-pairs: exact pairs come from the same
    inverted shingle index the Jaccard operator uses (only documents
    sharing a shingle ever meet; a pair with Jaccard >= t > 0 shares
    one by definition). max_df stays off on the truth side — ground
    truth must not drop hot shingles.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    inter = shingle_pair_intersections(
        df, id_col, text_col, shingle_k, max_df=None
    )
    true_pairs = (
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ).alias("_j"),
        )
        .filter(F.col("_j") >= F.lit(float(threshold)))
        # lineage cut: the inverted-index pair plan materializes once
        # and every downstream action reads the cut, not the plan
        .localCheckpoint(eager=False)
    )
    cands = minhash_lsh_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        max_bucket=max_bucket,
    ).select("id_a", "id_b")
    # ONE aggregation for both counts (round 14, guide §2.4 — the
    # ngram_decontamination single-agg discipline): mark each true pair
    # by a left join against the candidate set (minhash_lsh_pairs
    # returns DISTINCT pairs on both its paths, so marking cannot
    # duplicate a truth row; the join keys the same shuffle a semi join
    # pays) and take total + caught in one pass — the old
    # two-aggregations-cross-joined form consumed true_pairs twice and
    # dispatched a second aggregation subtree per action.
    marked = true_pairs.join(
        cands.withColumn("_c", F.lit(1)), ["id_a", "id_b"], "left"
    )
    return marked.agg(
        F.count(F.lit(1)).alias("_nt"), F.count("_c").alias("_nc")
    ).select(
        F.col("_nt").cast("long").alias("n_true"),
        F.col("_nc").cast("long").alias("n_caught"),
        F.when(F.col("_nt") == 0, F.lit(None)).otherwise(
            F.round(F.col("_nc").cast("double") / F.col("_nt"), 6)
        ).alias("recall"),
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming): near-duplicate pairs by SimHash
    fingerprint distance — banded Hamming candidate generation (split
    the `bits`-bit fingerprint into `bands` equal slices; a pair with
    hamming ≤ bands-1 shares at least one slice verbatim, pigeonhole —
    so the default 4 bands are COMPLETE for max_hamming=3) followed by
    exact `bit_count(xor)` verification. The same banded-keyed-join
    shape as the perceptual-hash miner in operators/multimodal.py:
    only same-slice candidates ever pair, never all-pairs.

    Default `bits` is 64 (round 13 — the Manku et al., WWW'07
    configuration: 64-bit fingerprints, k=3): the sf1.0 stress run
    showed 32-bit/4-band keys saturating their 256-value band space —
    at 50k docs EVERY bucket held ~195 docs, so candidates grew
    quadratically with the corpus (35 s at sf1.0, 26.9x sf0.1) with
    no skew to cap. 16-bit slice keys (65,536 values/band) defer
    saturation by 256x; measured 35.2 -> 14.0 s warm at sf1.0 (the
    remainder is the linear 64-bit fingerprint fold itself).
    At larger corpora still, raise `bands` (and `max_hamming`
    coverage comes from multi-probe) or cap with `max_bucket`.

    `max_bucket` caps degenerate slice buckets (constant fingerprints
    — e.g. near-empty documents all hash to 0): a bucket larger than
    the cap is skipped, trading recall ON THOSE DEGENERATE GROUPS for
    the quadratic join they would otherwise cost every run (the
    minhash miner's hot-bucket rationale). Ids order by their column's
    natural `<` (lexicographic for string ids — the collection
    contract)."""
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    slice_bits = bits // bands
    mask = (1 << slice_bits) - 1
    fp = simhash(df, id_col=id_col, text_col=text_col, bits=bits)
    if max_bucket is not None:
        # the bucket-size agg below consumes the banded relation a
        # second time; without this the whole tokenize+md5+fold pass
        # reruns for it (fingerprints are 16 bytes/doc — checkpointing
        # them is free next to recomputing them)
        fp = fp.localCheckpoint(eager=False)
    # fingerprints RIDE THROUGH the band explode and self-join (round
    # 13, VERDICT r12 #4): the old shape re-joined fp onto the distinct
    # candidates to fetch _ha/_hb, which cost two extra joins AND two
    # full recomputes of the fingerprint pass (plan-audited: the
    # tokenize+md5 scan appeared 3x). Carrying 8 more bytes per banded
    # row is cheaper at every scale, and the exact bit_count verify now
    # FUSES into the band join's output before the distinct, so the
    # pair-dedup shuffle only carries pairs that already passed
    # max_hamming.
    banded = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"shiftright(simhash, {b * slice_bits}) & {mask}"
                    ).alias("k")
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    if max_bucket is not None:
        ok = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_bc"))
            .filter((F.col("_bc") >= 2) & (F.col("_bc") <= max_bucket))
            .select("band", "key")
        )
        banded = banded.join(ok, ["band", "key"], "left_semi")
    left = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("_ha"),
        "band", "key",
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("_hb"),
        "band", "key",
    )
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.expr("bit_count(_ha ^ _hb)").cast("int"))
        .filter(F.col("hamming") <= F.lit(int(max_hamming)))
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def exact_dedup_unicode(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """exact_dedup keyed on the UNICODE-FOLDED text (normalize_text's
    folded key: NFC → accent-fold → ASCII-whitespace collapse) — the
    third rung of the dedup ladder after byte-exact and ASCII
    normalization: web corpora mix decomposed/precomposed renderings
    and accent variants of identical content, which both earlier rungs
    hash apart (CCNet's motivation for normalizing BEFORE hashing).
    Returns (id, text_sha, n_copies, keep) — the exact_dedup contract
    over the folded key; NULL-text docs drop (normalize_text's rule).
    Same one-shuffle plan downstream of the Arrow normalization pass.
    """
    from chroma_rs_spark.operators.text import normalize_text

    folded = normalize_text(df, id_col=id_col, text_col=text_col).select(
        F.col(id_col), F.col("folded_text")
    )
    return exact_dedup(folded, id_col=id_col, text_col="folded_text")
