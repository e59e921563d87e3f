"""Streaming suite (SURVEY.md §2.3 [EXT]): the batch twins of the
event-time operators, DuckDB-oracle-checked (SURVEY.md §7 hard-part
(d): the *batch equivalents* of the windows are SQL-expressible;
stream-mode execution of the same functions is covered by
tests/test_streaming.py with rows-only equivalence to batch)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from chroma_rs_spark.scratch import mkscratch
from chroma_rs_spark.sources.tables import load_table
from chroma_rs_spark.streaming.events import (
    session_window_agg,
    sliding_window_counts,
    tumbling_window_counts,
)
from chroma_rs_spark.suite import QueryDef, fixture, fixture_dir


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_counts(load_table(spark, sf_dir, "events"))


_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_counts(load_table(spark, sf_dir, "events"))


# each event belongs to exactly two 10m/5m windows: the 5m bucket it
# falls in and the one 5 minutes earlier
_SLIDING_ORACLE = """
WITH starts AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start FROM events
  WHERE ts IS NOT NULL
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' FROM events
  WHERE ts IS NOT NULL
)
SELECT window_start, count(*) AS n_events
FROM starts GROUP BY window_start
"""


def q_events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_agg(load_table(spark, sf_dir, "events"))


# gaps-and-islands twin of Spark's session_window: a new session
# starts when the gap to the previous event is >= 30min (half-open
# windows); session end = last event + 30min
_SESSION_WINDOW_ORACLE = """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
  FROM gaps
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


def q_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming first-arrival dedup
    (streaming/joins.py:dedup_events): the earliest event per
    (user_id, event_type) key. Stream-mode execution of the same
    function (dropDuplicatesWithinWatermark) is covered rows-only by
    tests/test_streaming_joins.py — see COVERAGE.md."""
    from chroma_rs_spark.streaming.joins import dedup_events

    return dedup_events(
        load_table(spark, sf_dir, "events"), keys=["user_id", "event_type"]
    )


_DEDUP_EVENTS_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props
FROM (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
"""


QUERIES = {
    "events_session_windows": QueryDef(
        q_events_session_windows, _SESSION_WINDOW_ORACLE
    ),
    "dedup_events": QueryDef(q_dedup_events, _DEDUP_EVENTS_ORACLE),
    "events_sliding": QueryDef(q_events_sliding, _SLIDING_ORACLE),
}

def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch collection ingest's batch twin (VERDICT r5 #7):
    the sf embeddings are split into three file micro-batches (plus a
    REDELIVERED copy of batch 0 — the replay case the anti-join must
    absorb), drained through the real `stream_add` pipeline
    (`streaming/ingest.py`: availableNow file stream, maxFilesPerTrigger
    =1, id-level idempotent append), and the resulting collection's
    content is returned for the oracle to pin against a plain distinct
    union of the same batches — which, because every id is delivered at
    least once and redelivery must be a no-op, is exactly the source
    table. Content check: per-id embedding identity via first/last
    components (float32→double widening is exact in both engines) and
    dim; runs Spark jobs during build, hence iterative=True."""
    import shutil

    import pyspark.sql.functions as F

    from chroma_rs_spark import collection as item_ops
    from chroma_rs_spark.catalog import Engine
    from chroma_rs_spark.streaming.ingest import stream_add

    emb = load_table(spark, sf_dir, "embeddings")
    items = emb.select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding")
    )
    root = mkscratch("ingest_twin_")
    try:
        inbox = f"{root}/inbox"
        for b in range(3):
            items.filter(F.col("id").cast("long") % 3 == b).coalesce(
                1
            ).write.parquet(f"{inbox}/batch_{b}", mode="overwrite")
        # replayed delivery of batch 0's content as a fourth file set —
        # the idempotency case (same ids, must not duplicate)
        items.filter(F.col("id").cast("long") % 3 == 0).coalesce(
            1
        ).write.parquet(f"{inbox}/batch_0_replay", mode="overwrite")
        eng = Engine(spark, root)
        coll = eng.create_collection("ingest_twin")
        stream = (
            spark.readStream.schema(items.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{inbox}/batch_*")
        )
        q = stream_add(eng, coll, stream, checkpoint_dir=f"{root}/_ckpt")
        q.awaitTermination()
        out = item_ops.items_df(eng, coll).select(
            "id",
            F.size("embedding").cast("long").alias("dim"),
            F.element_at("embedding", 1).cast("double").alias("c_first"),
            F.element_at("embedding", -1).cast("double").alias("c_last"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_STREAM_INGEST_ORACLE = """
SELECT CAST(vec_id AS VARCHAR)                          AS id,
       CAST(len(embedding) AS BIGINT)                   AS dim,
       CAST(embedding[1] AS DOUBLE)                     AS c_first,
       CAST(embedding[len(embedding)] AS DOUBLE)        AS c_last
FROM embeddings
"""


QUERIES.update(
    {
        "events_tumbling": QueryDef(q_events_tumbling, _TUMBLING_ORACLE),
        # the foreachBatch ingest path oracle-pinned end-to-end
        # (micro-batched file stream + replayed batch -> collection
        # content == distinct union == source table). Its 4 micro-batch
        # triggers carry ~2.7 s of Structured Streaming fixed cost
        # against a 3 ms oracle.
        "stream_ingest": QueryDef(
            q_stream_ingest, _STREAM_INGEST_ORACLE, iterative=True
        ),
    }
)


# -- trending top-k ----------------------------------------------------


def q_trending_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chroma_rs_spark.streaming.events import trending_event_types

    from pyspark.sql import functions as F

    # rank cast to long: the suite-wide convention so Spark dtypes
    # match the DuckDB oracle's BIGINT exactly
    return trending_event_types(
        load_table(spark, sf_dir, "events"), k=2
    ).select(
        "window_start", "event_type", "n_events", F.col("rank").cast("long").alias("rank")
    )


_TRENDING_ORACLE = """
WITH counts AS (
  SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
         event_type,
         count(*) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
ranked AS (
  SELECT window_start, event_type, n_events,
         row_number() OVER (PARTITION BY window_start
                            ORDER BY n_events DESC, event_type NULLS FIRST)
             AS rank
  FROM counts
)
SELECT window_start, event_type, n_events, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 2
"""


QUERIES["trending_event_types"] = QueryDef(
    q_trending_event_types, _TRENDING_ORACLE
)


# ---------------------------------------------------------------------------
# round 8: streaming near-dup ingest (streaming/ingest.py:
# stream_dedup_ingest) — the daily-crawl shape: batch 0 (even doc_ids)
# then batch 1 (odd doc_ids) drain through the real foreachBatch
# pipeline with a persisted band index; the oracle replays the SAME
# sequential fold in one DuckDB statement (round-0 within-batch CC,
# then round-1 corpus-wins + within-batch CC), reusing the minhash
# band skeleton the dedup oracles share. The READ-ONLY
# inbox fixture is built once per (session, sf_dir) — identical files
# every rep; the stream's own state dirs stay fresh per call.
# ---------------------------------------------------------------------------


@fixture
def _ingest_inbox(spark: SparkSession, sf_dir: str) -> str:
    import os
    import time

    from pyspark.sql import functions as F

    root = fixture_dir("dedup_ingest_inbox_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inbox = f"{root}/inbox"
    now = time.time()
    for b in (0, 1):
        path = f"{inbox}/batch_{b}"
        docs.filter(F.col("doc_id") % 2 == b).coalesce(1).write.parquet(
            path, mode="overwrite"
        )
        for f in os.listdir(path):
            os.utime(f"{path}/{f}", (now - 100 + b, now - 100 + b))
    return inbox


def q_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two file micro-batches (even ids, then odd ids — file mtimes
    pinned so FileStreamSource's oldest-first order is deterministic)
    through stream_dedup_ingest at threshold 0.7; returns the final
    corpus. iterative=True: the stream runs during build."""
    import shutil

    from chroma_rs_spark.streaming.ingest import stream_dedup_ingest

    inbox = _ingest_inbox(spark, sf_dir)
    root = mkscratch("dedup_ingest_twin_")
    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{inbox}/*")
        )
        q = stream_dedup_ingest(
            spark,
            stream,
            f"{root}/corpus",
            f"{root}/index",
            threshold=0.7,
            checkpoint_dir=f"{root}/ckpt",
        )
        q.awaitTermination(600)
        out = spark.read.parquet(f"{root}/corpus").select("doc_id", "text")
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _dedup_ingest_oracle() -> str:
    from chroma_rs_spark.operators.dedup import MINHASH_P, minhash_params

    params = ",\n         ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(16))
    )
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    # agreement >= 12 bands == est_jaccard >= 0.7 at 16 single-row bands
    return f"""
WITH RECURSIVE
sh AS (
  SELECT doc_id, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        FROM (SELECT doc_id, {toks} AS toks FROM documents))
  WHERE toks[i] <> '' AND toks[i+1] <> '' AND toks[i+2] <> ''
),
params(i, a, b) AS (
  VALUES {params}
),
h AS (
  SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h
  FROM sh
),
mh AS MATERIALIZED (
  SELECT doc_id, p.i AS band, min((h.h * p.a + p.b) % {MINHASH_P}) AS band_key
  FROM h, params p
  GROUP BY doc_id, p.i
),
b0 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
b1 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
-- round 0: batch 0 against an empty corpus — within-batch pairs only
cand0 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM mh a JOIN mh b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 0
),
e0 AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM (
    SELECT c.id_a, c.id_b,
           sum(CASE WHEN ma.band_key = mb.band_key THEN 1 ELSE 0 END) AS nm
    FROM cand0 c
    JOIN mh ma ON ma.doc_id = c.id_a
    JOIN mh mb ON mb.doc_id = c.id_b AND mb.band = ma.band
    GROUP BY 1, 2
  ) WHERE nm >= 12
),
e0b AS MATERIALIZED (
  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
),
reach0(node, lbl) AS (
  SELECT doc_id, doc_id FROM b0
  UNION
  SELECT e.v, r.lbl FROM reach0 r JOIN e0b e ON e.u = r.node
),
comp0 AS MATERIALIZED (
  SELECT node AS doc_id, min(lbl) AS cid FROM reach0 GROUP BY 1
),
s0 AS MATERIALIZED (
  SELECT b0.doc_id, b0.text FROM b0 JOIN comp0 USING (doc_id)
  WHERE doc_id = cid
),
-- round 1: batch 1 — corpus (= s0) wins, then min-id within batch.
-- DECORRELATED (round-9): the original correlated scalar subquery
-- re-scanned the 80k-row mh table once PER candidate pair (130 s at
-- sf0.1, invisible in the profile tree because correlated subplans
-- are executed row-at-a-time outside it); the grouped-join form below
-- is the e0/e1 shape — identical semantics (>= 1 band collision to be
-- a candidate, full 16-band agreement >= 12 to hit), one vectorized
-- pass (sf0.1: 130 s -> seconds).
cand1x AS (
  SELECT DISTINCT a.doc_id AS n, s.doc_id AS o
  FROM mh a JOIN mh s ON a.band = s.band AND a.band_key = s.band_key
  JOIN s0 ON s0.doc_id = s.doc_id
  WHERE a.doc_id % 2 = 1
),
hit1 AS MATERIALIZED (
  SELECT DISTINCT n FROM (
    SELECT c.n, c.o,
           sum(CASE WHEN ma.band_key = mb.band_key THEN 1 ELSE 0 END) AS nm
    FROM cand1x c
    JOIN mh ma ON ma.doc_id = c.n
    JOIN mh mb ON mb.doc_id = c.o AND mb.band = ma.band
    GROUP BY 1, 2
  ) WHERE nm >= 12
),
cand1 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM mh a JOIN mh b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
),
e1 AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM (
    SELECT c.id_a, c.id_b,
           sum(CASE WHEN ma.band_key = mb.band_key THEN 1 ELSE 0 END) AS nm
    FROM cand1 c
    JOIN mh ma ON ma.doc_id = c.id_a
    JOIN mh mb ON mb.doc_id = c.id_b AND mb.band = ma.band
    GROUP BY 1, 2
  ) WHERE nm >= 12
),
e1b AS MATERIALIZED (
  SELECT u, v FROM e1 UNION ALL SELECT v AS u, u AS v FROM e1
),
reach1(node, lbl) AS (
  SELECT doc_id, doc_id FROM b1
  UNION
  SELECT e.v, r.lbl FROM reach1 r JOIN e1b e ON e.u = r.node
),
comp1 AS MATERIALIZED (
  SELECT node AS doc_id, min(lbl) AS cid FROM reach1 GROUP BY 1
),
s1 AS (
  SELECT b1.doc_id, b1.text FROM b1 JOIN comp1 USING (doc_id)
  WHERE doc_id = cid AND doc_id NOT IN (SELECT n FROM hit1)
)
SELECT doc_id, text FROM s0
UNION ALL
SELECT doc_id, text FROM s1
"""


QUERIES["dedup_ingest"] = QueryDef(
    q_dedup_ingest, _dedup_ingest_oracle(), iterative=True
)


# ---------------------------------------------------------------------------
# Round-10: streaming count-min maintenance (`stream_cms_ingest`) — the
# corpus-drift-monitor shape: two file micro-batches (the dedup_ingest
# inbox fixture) each append their own depth×width sketch SEGMENT;
# readers merge segments with one groupBy-sum (the sketch's cellwise
# merge law). Because count-min is order- and batching-free, the
# stream-final merged sketch is BIT-EQUAL to the batch sketch over the
# whole corpus — so this streaming row gets a full SQL oracle (the
# batch CMS replay), not a rows-only check. Non-empty cells only
# (~hundreds of rows at sf0.01): driver-canonicalizable scalars.
# ---------------------------------------------------------------------------

_CMS_STREAM_DEPTH, _CMS_STREAM_WIDTH = 4, 1024


def q_stream_cms_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the document inbox through stream_cms_ingest, then read the
    merged sketch. iterative=True: the stream runs during build."""
    import shutil

    from chroma_rs_spark.streaming.ingest import read_cms, stream_cms_ingest

    inbox = _ingest_inbox(spark, sf_dir)
    root = mkscratch("cms_ingest_twin_")
    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{inbox}/*")
        )
        q = stream_cms_ingest(
            spark,
            stream,
            f"{root}/sketch",
            depth=_CMS_STREAM_DEPTH,
            width=_CMS_STREAM_WIDTH,
            checkpoint_dir=f"{root}/ckpt",
        )
        q.awaitTermination(600)
        out = read_cms(spark, f"{root}/sketch").localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _stream_cms_oracle(
    depth: int = _CMS_STREAM_DEPTH, width: int = _CMS_STREAM_WIDTH
) -> str:
    return f"""
WITH toks AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT concat_ws(' ', t[i], t[i+1], t[i+2]) AS item
  FROM toks, unnest(range(1, len(t) - 1)) r(i)
),
seeds AS (SELECT unnest(range(0, {depth})) AS r)
SELECT CAST(s.r AS INT) AS row,
       CAST('0x' || substr(md5(CAST(s.r AS VARCHAR) || ':' || sh.item), 1, 8)
            AS BIGINT) % {width} AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM sh CROSS JOIN seeds s
GROUP BY 1, 2
"""


QUERIES["stream_cms_ingest"] = QueryDef(
    q_stream_cms_ingest, _stream_cms_oracle(), iterative=True
)


# ---------------------------------------------------------------------------
# Round-10 (session 3): streaming Bloom maintenance — the membership
# twin of stream_cms_ingest. Each micro-batch appends its own set-bit
# segment; readers merge with one DISTINCT (Bloom's OR merge law on the
# bit-positions-as-rows layout). Union is idempotent, so the streaming
# row is even safer than the CMS one (a replayed batch cannot change
# the filter at all), and the stream-final merged filter is BIT-EQUAL
# to the batch build over the same corpus — full SQL oracle.
# ---------------------------------------------------------------------------

_BLOOM_STREAM_K, _BLOOM_STREAM_M = 3, 8192


def q_stream_bloom_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the document inbox through stream_bloom_ingest, then read
    the merged filter. iterative=True: the stream runs during build."""
    import shutil

    from chroma_rs_spark.streaming.ingest import (
        read_bloom,
        stream_bloom_ingest,
    )

    inbox = _ingest_inbox(spark, sf_dir)
    root = mkscratch("bloom_ingest_twin_")
    try:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{inbox}/*")
        )
        q = stream_bloom_ingest(
            spark,
            stream,
            f"{root}/bloom",
            k=_BLOOM_STREAM_K,
            m=_BLOOM_STREAM_M,
            checkpoint_dir=f"{root}/ckpt",
        )
        q.awaitTermination(600)
        out = read_bloom(spark, f"{root}/bloom").localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _stream_bloom_oracle(
    k: int = _BLOOM_STREAM_K, m: int = _BLOOM_STREAM_M
) -> str:
    return f"""
WITH seeds AS (SELECT unnest(range(0, {k})) AS r)
SELECT DISTINCT
       CAST('0x' || substr(md5(CAST(s.r AS VARCHAR) || ':' || d.text), 1, 8)
            AS BIGINT) % {m} AS pos
FROM documents d CROSS JOIN seeds s
WHERE d.text IS NOT NULL
"""


QUERIES["stream_bloom_ingest"] = QueryDef(
    q_stream_bloom_ingest, _stream_bloom_oracle(), iterative=True
)


# ---------------------------------------------------------------------------
# round 11: TRUE watermark semantics under the driver's oracle gate
# (VERDICT r10 missing #1) — a drained 4-file micro-batch run where
# planted late data is genuinely DROPPED by the watermark (observed
# numRowsDroppedByWatermark > 0, pinned by tests/test_streaming.py),
# and the final append-mode sink is SQL-expressible because every
# late row's verdict is unambiguous under EITHER watermark-lag
# formula Spark might apply (filter watermark from batches <= N-1 or
# <= N-2 — measured: a late row landing in the very next batch after
# its on-time peers is still tolerated; one landing two batches later
# is dropped):
#   batch 0  day-1 events minus held-back morning stragglers
#   batch 1  day-2 events minus held-back tail stragglers
#   batch 2  the stragglers: day-1 morning rows (window ends <= 12:10,
#            below ANY candidate watermark => dropped under both
#            formulas) + day-2 tail rows from 22:00 on (window ends
#            > 22:00 > max(day-2 on-time ts) - 2h, which is < 22:00
#            at every scale factor => tolerated under both)
#   batch 3  all day-3 events — advance the final watermark past
#            every day-2 window so the tolerated stragglers' windows
#            FINALIZE and their late contributions are visible in the
#            emitted output (not just absorbed into never-emitted
#            state)
# The oracle replays the rule set: kept = on-time ∪ tolerated
# stragglers; emitted = windows with end <= max(kept ts) - delay.
# Window ends sit on sharp 10-minute marks while both engines'
# watermarks carry sub-second event times, so <= vs < at either
# boundary cannot flip a verdict on this data (no ties by
# construction).
# ---------------------------------------------------------------------------

def _state_partitions() -> str:
    """State-store partition count for the suite's stateful streams —
    a keyspace sizing knob, not a parallelism knob. Every micro-batch
    commits (writes + fsyncs) one state-store delta PER PARTITION, so
    partition count multiplies the stream's fsync count. Round-14
    counter evidence (tools/r14_stream_probe.py, StreamingQueryProgress
    stateOperators.commitTimeMs): at sf0.1 the commit time dominates
    the whole drain — with 8 stores the per-run commit sum ranged
    3.6-23.9 s as the host's I/O waves came and went (the r13 "8-CPU
    anomaly" was exactly such a wave landing on 40 fsyncs; an
    interleaved same-window ladder measured c8 FASTER than c32, so
    core count was never the variable), while 2 stores held a stable
    0.4-0.7 s with bit-identical output at every width (live keys here
    are a few hundred; the fixed-point aggregations are
    partitioning-independent). Deployments size this to live key
    cardinality inside the watermark horizon / target keys-per-store —
    override via SPARK_GRAFT_STREAM_STATE_PARTITIONS.
    """
    import os

    return os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "2")


_WM_DELAY = "2 hours"
_WM_WIDTH = "10 minutes"


@fixture
def _watermark_inbox(spark: SparkSession, sf_dir: str) -> str:
    import os
    import time

    from pyspark.sql import functions as F

    root = fixture_dir("wm_counts_inbox_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    c = F.col
    day1 = (c("ts") >= "2024-01-01") & (c("ts") < "2024-01-02")
    day2 = (c("ts") >= "2024-01-02") & (c("ts") < "2024-01-03")
    # class widths chosen so BOTH late classes are non-empty down to
    # sf0.001 (1 and 2 rows there; 172 and 127 at sf0.1)
    morning_straggler = (c("event_id") % 10 == 7) & (
        c("ts") < "2024-01-01 12:00:00"
    )
    tail_straggler = (c("event_id") % 2 == 1) & (
        c("ts") >= "2024-01-02 22:00:00"
    )
    batches = [
        day1 & ~morning_straggler,
        day2 & ~tail_straggler,
        (day1 & morning_straggler) | (day2 & tail_straggler),
        (c("ts") >= "2024-01-03") & (c("ts") < "2024-01-04"),
    ]
    inbox = f"{root}/inbox"
    now = time.time()
    for i, flt in enumerate(batches):
        path = f"{inbox}/batch_{i}"
        ev.filter(flt).coalesce(1).write.parquet(path, mode="overwrite")
        for f in os.listdir(path):
            os.utime(f"{path}/{f}", (now - 100 + i * 10, now - 100 + i * 10))
    return inbox


def q_stream_watermark_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four pinned file micro-batches through a REAL watermarked
    tumbling aggregation (append mode, availableNow drain): day-1
    morning stragglers arriving after day 2 are dropped by the
    watermark; day-2 tail stragglers are late-but-tolerated and their
    windows finalize once day 3 advances the watermark. Returns the
    emitted (finalized) windows. iterative=True: the stream runs
    during build."""
    import shutil

    inbox = _watermark_inbox(spark, sf_dir)
    root = mkscratch("wm_counts_run_")
    # State-store partition count is a first-class sizing knob for
    # stateful streams: every micro-batch commits one state-store
    # delta PER PARTITION, so a tiny keyspace (|windows x types| here,
    # a few thousand) on the batch-oriented 32-partition default paid
    # 32 x 5 batches of commit I/O for mostly-empty stores — measured
    # 8.1 s -> 2.6 s at sf0.1 with 8 partitions, identical results (the
    # fixed-point aggregation is partitioning-independent). At 100 TB
    # the same knob goes the other way: size it to the live key
    # cardinality inside the watermark horizon, not to the batch
    # shuffle width. Scoped + restored: only this stream's checkpoint
    # (fresh per call) compiles under the override.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", _state_partitions())
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{inbox}/*")
        )
        agg = tumbling_window_counts(
            stream, width=_WM_WIDTH, watermark=_WM_DELAY
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        out = spark.read.schema(
            "window_start timestamp, event_type string,"
            " n_events long, total_value double"
        ).parquet(f"{root}/out")
        out = out.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(root, ignore_errors=True)
    return out


_WM_COUNTS_ORACLE = """
WITH kept AS (
  SELECT ts, event_type, value FROM events
  WHERE (
    (ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02'
     AND NOT (event_id % 10 = 7 AND ts < TIMESTAMP '2024-01-01 12:00:00'))
    OR (ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03')
    OR (ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-04')
  )
),
wmf AS (SELECT max(ts) - INTERVAL '2 hours' AS wm FROM kept),
agg AS (
  SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, event_type,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
  FROM kept GROUP BY 1, 2
)
SELECT window_start, event_type, n_events, total_value
FROM agg, wmf
WHERE agg.window_start + INTERVAL '10 minutes' <= wmf.wm
"""


QUERIES["stream_watermark_counts"] = QueryDef(
    q_stream_watermark_counts, _WM_COUNTS_ORACLE, iterative=True
)


# ---------------------------------------------------------------------------
# round 11 (second stream-semantics closure): dropDuplicatesWithinWatermark
# under the oracle gate — including the RE-EMISSION horizon that makes
# it different from plain first-arrival dedup. Three pinned batches of
# real (user:event_type)-keyed events:
#   batch 0  all day-1 events — one emission per distinct key;
#            same-batch duplicates suppressed by state
#   batch 1  day-2 events whose key did NOT appear on day 1 — fresh
#            keys only, one emission each. (Day-2 rows REUSING day-1
#            keys are withheld on purpose: whether their day-1 state
#            is still alive at batch 1 depends on which watermark-lag
#            formula the engine applies — the stream_watermark_counts
#            ambiguity — so they cannot carry a deterministic verdict.)
#   batch 2  day-3 events whose key did not appear on day 2 at all,
#            AND whose day-1 state (if any) is unambiguously evicted:
#            keys whose LAST day-1 event sits inside the final
#            FOUR hours of day 1 are withheld too. Four, not two:
#            dropDuplicatesWithinWatermark must honor "duplicates
#            within <delay> of the first are suppressed", so it keeps
#            state until watermark > state_ts + delay — eviction at
#            wm - delay, and the lagged wm candidate is max(day-1)
#            - delay, giving a 2*delay exclusion band (the first two
#            drafts shipped 0h/2h bands and 11/3 expected
#            re-emissions did not happen).
#            Fresh keys emit once; keys reused from day 1 with state
#            strictly below every watermark candidate re-emit: the
#            documented within-watermark guarantee boundary, visible
#            as n_emitted = 2.
# The surviving row per key is partition-order-dependent (Spark keeps
# an arbitrary first within a batch), so the row returns per-key
# EMISSION COUNTS — deterministic — not payloads.
# ---------------------------------------------------------------------------


@fixture
def _ddw_inbox(spark: SparkSession, sf_dir: str) -> str:
    import os
    import time

    from pyspark.sql import functions as F

    root = fixture_dir("ddw_inbox_")
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit(":"),
                F.col("event_type"),
            ).alias("k"),
            "ts",
            "event_id",
        )
        .filter(F.col("k").isNotNull() & F.col("ts").isNotNull())
    )
    c = F.col
    day = lambda d: (c("ts") >= f"2024-01-0{d}") & (c("ts") < f"2024-01-0{d+1}")
    d1 = ev.filter(day(1))
    k1 = d1.select("k").distinct()
    d2keys = ev.filter(day(2)).select("k").distinct()
    # day-1 keys whose last event is inside the final 2h horizon:
    # their state may survive the lagged watermark — withheld from
    # batch 2 so every delivered key's verdict is formula-independent
    d1max = d1.agg(F.max("ts").alias("_m"))
    tail1 = (
        d1.groupBy("k")
        .agg(F.max("ts").alias("_kmax"))
        .crossJoin(d1max)
        .filter(F.col("_kmax") >= F.col("_m") - F.expr("INTERVAL 4 HOURS"))
        .select("k")
    )
    batches = [
        d1,
        ev.filter(day(2)).join(k1, "k", "left_anti"),
        ev.filter(day(3))
        .join(d2keys, "k", "left_anti")
        .join(tail1, "k", "left_anti"),
    ]
    inbox = f"{root}/inbox"
    now = time.time()
    for i, b in enumerate(batches):
        path = f"{inbox}/batch_{i}"
        b.coalesce(1).write.parquet(path, mode="overwrite")
        for f in os.listdir(path):
            os.utime(f"{path}/{f}", (now - 100 + i * 10, now - 100 + i * 10))
    return inbox


def q_stream_dedup_within_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real dropDuplicatesWithinWatermark over three pinned
    micro-batches: within-horizon duplicates suppressed, a key reused
    a full day after its state evicted re-emits. Returns per-key
    emission counts (1, or 2 for the re-emitted day-1/day-3 keys).
    iterative=True: the stream runs during build."""
    import shutil

    from pyspark.sql import functions as F

    from chroma_rs_spark.streaming.joins import dedup_events

    inbox = _ddw_inbox(spark, sf_dir)
    root = mkscratch("ddw_run_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # keyspace-sized state partitions (the stream_watermark_counts
        # rationale and measurement)
        spark.conf.set("spark.sql.shuffle.partitions", _state_partitions())
        stream = (
            spark.readStream.schema("k string, ts timestamp, event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{inbox}/*")
        )
        dd = dedup_events(stream, keys=["k"], watermark="2 hours")
        q = (
            dd.writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        out = (
            spark.read.schema("k string, ts timestamp, event_id long")
            .parquet(f"{root}/out")
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("n_emitted"))
        )
        out = out.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(root, ignore_errors=True)
    return out


_DDW_ORACLE = """
WITH e AS (
  SELECT user_id || ':' || event_type AS k, ts FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
),
k1 AS (SELECT DISTINCT k FROM e
       WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02'),
k2 AS (SELECT DISTINCT k FROM e
       WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'),
k3 AS (SELECT DISTINCT k FROM e
       WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-04'),
b1 AS (SELECT k FROM k2 WHERE k NOT IN (SELECT k FROM k1)),
tail1 AS (
  SELECT k FROM e
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02'
  GROUP BY k
  HAVING max(ts) >= (SELECT max(ts) - INTERVAL '4 hours' FROM e
                     WHERE ts >= TIMESTAMP '2024-01-01'
                       AND ts < TIMESTAMP '2024-01-02')
),
b2 AS (SELECT k FROM k3 WHERE k NOT IN (SELECT k FROM k2)
                          AND k NOT IN (SELECT k FROM tail1)),
em AS (
  SELECT k FROM k1
  UNION ALL SELECT k FROM b1
  UNION ALL SELECT k FROM b2
)
SELECT k, CAST(count(*) AS BIGINT) AS n_emitted FROM em GROUP BY k
"""


QUERIES["stream_dedup_within_wm"] = QueryDef(
    q_stream_dedup_within_wm, _DDW_ORACLE, iterative=True
)

# ---------------------------------------------------------------------------
# stream_interval_join (round 12, VERDICT r11 missing #2 / next-round
# #5): the LAST streaming semantic without an oracle row — the
# stream-stream interval join's state-bound eviction, pinned with the
# stream_watermark_counts discipline (final emitted set SQL-expressible
# by rule). Two real file-stream sources (clicks / purchases split from
# `events` days 1-3), 1 file per trigger each, drained availableNow
# through streaming/joins.py::click_purchase_interval_join (inner join,
# click within 1h before purchase, 2h watermarks on both sides).
#
# The planted verdicts, each unambiguous under either watermark-lag
# formula (wm from batch-start maxes or batch-end maxes):
# * day-2 EARLY-morning clicks (< 02:00) are delivered in the FIRST
#   click file, a day before their matching purchases — they must sit
#   in the join state across triggers and emit when the purchase side
#   catches up (cross-batch buffering, the state the join exists for).
#   Safe under min-watermark: the purchase side's max lags a full day,
#   so the global watermark can never pass click_ts + 1h before the
#   matching purchases arrive.
# * ALL day-1 morning clicks (ts < 12:00 — a stuck upstream partition
#   redelivered a day later, the realistic failure) are WITHHELD from
#   the first file and REDELIVERED after both sides' day-2 data: by
#   then the global watermark sits at day-2 evening minus 2h (>33h
#   past them), so the late filter drops them on input and their
#   would-have-matched purchase pairs (4 of 30 at sf0.01, 44 of 216 at
#   sf0.1 — measured non-empty at both gate scales) are GONE from the
#   emitted set — the eviction/late rule a batch join can't show.
# * day-3 rows advance the watermark so every surviving window is
#   final at drain end; inner joins emit eagerly, so drained = final.
#
# Oracle: the interval join over (clicks minus the replayed-late
# class) x (all purchases) — the rule the stream must converge to.
# ---------------------------------------------------------------------------


@fixture
def _interval_join_inboxes(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    import os
    import time

    from pyspark.sql import functions as F

    root = fixture_dir("ij_inbox_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    c = F.col
    day3 = (c("ts") >= "2024-01-03") & (c("ts") < "2024-01-04")
    late_cls = c("ts") < "2024-01-01 12:00:00"
    early_click = (c("ts") >= "2024-01-02") & (c("ts") < "2024-01-02 02:00:00")
    clicks = ev.filter(c("event_type") == "click")
    purchases = ev.filter(c("event_type") == "purchase")
    # per-source file order is mtime: file i of each source is taken by
    # trigger i while available (maxFilesPerTrigger=1, availableNow)
    click_files = [
        clicks.filter(
            ((c("ts") < "2024-01-02") & ~late_cls) | early_click
        ),
        clicks.filter(
            (c("ts") >= "2024-01-02 02:00:00") & (c("ts") < "2024-01-03")
        ),
        clicks.filter(late_cls),  # the very-late redelivery: dropped
        clicks.filter(day3),
    ]
    purchase_files = [
        purchases.filter(c("ts") < "2024-01-02"),
        purchases.filter((c("ts") >= "2024-01-02") & (c("ts") < "2024-01-03")),
        purchases.filter(day3),
    ]
    now = time.time()
    paths = []
    for side, files in (("clicks", click_files), ("purchases", purchase_files)):
        inbox = f"{root}/{side}"
        for i, flt in enumerate(files):
            path = f"{inbox}/batch_{i}"
            flt.coalesce(1).write.parquet(path, mode="overwrite")
            for fname in os.listdir(path):
                os.utime(
                    f"{path}/{fname}",
                    (now - 100 + i * 10, now - 100 + i * 10),
                )
        paths.append(inbox)
    return paths[0], paths[1]


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained stream-stream interval join over the pinned two-source
    inboxes (see the block comment above). iterative=True: the stream
    runs during build."""
    import shutil

    from chroma_rs_spark.streaming.joins import click_purchase_interval_join

    click_inbox, purchase_inbox = _interval_join_inboxes(spark, sf_dir)
    root = mkscratch("ij_run_")
    schema = (
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    )
    # state-store partition sizing: the live keyspace (users active
    # inside the watermark horizon) is tiny at test scale — the
    # stream_watermark_counts knob, same rationale and restore scope
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", _state_partitions())
        mk = (
            lambda inbox: spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{inbox}/*")
        )
        joined = click_purchase_interval_join(
            mk(click_inbox),
            mk(purchase_inbox),
            # 6h: wide enough that the planted late class owns real
            # pairs at sf0.01 (the 1h draft measured ZERO dropped
            # pairs — a drop rule nothing exercises is not evidence)
            horizon="6 hours",
            watermark="2 hours",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        out = spark.read.schema(
            "user_id long, purchase_id long, purchase_ts timestamp,"
            " purchase_value double, click_id long, click_ts timestamp"
        ).parquet(f"{root}/out")
        out = out.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(root, ignore_errors=True)
    return out


_INTERVAL_JOIN_ORACLE = """
WITH c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events
  WHERE event_type = 'click'
    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-04'
    AND ts >= TIMESTAMP '2024-01-01 12:00:00'
),
p AS (
  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
         value AS purchase_value
  FROM events
  WHERE event_type = 'purchase'
    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-04'
)
SELECT p.user_id, purchase_id, purchase_ts, purchase_value,
       click_id, click_ts
FROM c JOIN p
  ON c.user_id = p.user_id
 AND click_ts <= purchase_ts
 AND click_ts >= purchase_ts - INTERVAL '6 hours'
"""


QUERIES["stream_interval_join"] = QueryDef(
    q_stream_interval_join, _INTERVAL_JOIN_ORACLE, iterative=True
)
