"""Driver-contract queries and their ANSI-SQL (DuckDB) oracles.

Each query runs the engine on the driver's parquet tables; each oracle is an
exact recount in SQL.  Parity holds because (a) everything is seeded and
deterministic, and (b) the parity configs keep the number of distinct pattern
keys far below the CMS width, so estimates equal exact counts (verified by
tests/oracle_check.py at sf0.01; the probabilistic headroom is ~1e-7).

Tokenization for the documents table is a deterministic codebook: token id =
1-based rank of the word in the sorted global vocabulary — reproducible in
both Spark (sources/tables.py) and SQL (row_number over sorted distinct
words), keeping the token-array-equality invariant between engine and oracle.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import HyperSketchConfig
from .operators.motif import enriched_configurations, motif_counts, motif_summary
from .sketches.kmv import hash_sql as _kmv_hash_sql
from .sources.tables import read_table, tokenized_sequences


def _seq(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Tokenized sequences, spread across the cluster.  The tokenizer +
    vocabulary job run once per dataset (write-once parquet cache,
    sources/tables.py:tokenized_sequences); every query here is a plain
    columnar scan of the pre-tokenized table — the input_hint's real shape.
    The cache is written as 32 files and Spark's parallelism-aware split
    sizing (bytesPerCore) turns them into >= defaultParallelism scan
    partitions, so no repartition is needed — an explicit repartition of
    the array-typed rows costs a sort-before-shuffle that measured 3-6x
    the whole build kernel.  Repartition only if the scan under-splits."""
    df = tokenized_sequences(spark, sf_dir, **kw)
    p = spark.sparkContext.defaultParallelism
    # the split count of a materialized cache is stable within a session;
    # the .rdd conversion probing it costs ~0.1 s per call — memoize it
    memo = spark.__dict__.setdefault("_ehs_nparts_memo", {})
    key = (sf_dir, tuple(sorted(kw.items())))
    n = memo.get(key)
    if n is None:
        n = memo[key] = df.rdd.getNumPartitions()
    if n < min(p, 8):
        df = df.repartition(p)
    return df

# ------------------------------------------------------------------ SQL CTEs

_TOK_CTE = """
words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w != ''
),
vocab AS (
  SELECT w, CAST(row_number() OVER (ORDER BY w) AS INT) AS tok
  FROM (SELECT DISTINCT w FROM words)
),
toks AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY tok) AS idx
  FROM words JOIN vocab USING (w)
)
"""

# positions = 1-based word index (storage order), filter_len = 1 so that
# adjacent words have gap d = delta_pos - 1 = 0.
_POS_CTE = """
docsf AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), x -> x != '')) <= 40
),
vocab AS (
  SELECT w, CAST(row_number() OVER (ORDER BY w) AS INT) AS tok
  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents WHERE TRUE)
  WHERE w != ''
),
pwords AS (
  SELECT doc_id, unnest(ws) AS w,
         CAST(unnest(range(1, len(ws) + 1)) AS INT) AS pos
  FROM docsf
),
ptoks AS (SELECT doc_id, tok, pos FROM pwords JOIN vocab USING (w))
"""

# ------------------------------------------------------------------- queries

K2_MIN = 2200
K3_MIN = 4000
K4_MIN = 13000
CONV_MIN = 6
HEAVY_MIN = 500
CONV_FILTER_LEN = 1


def q_motifs_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary k=2 motif occurrences (the reference's flagship semantics)."""
    seq = _seq(spark, sf_dir)
    cfg = HyperSketchConfig(motif_size=2, min_count=K2_MIN, seed=42)
    return enriched_configurations(seq, cfg, validate=False)


def q_motifs_k2_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir)
    cfg = HyperSketchConfig(motif_size=2, min_count=K2_MIN, seed=42)
    return motif_counts(seq, cfg)


def q_motifs_k3_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq(spark, sf_dir)
    cfg = HyperSketchConfig(motif_size=3, min_count=K3_MIN, seed=42)
    return motif_counts(seq, cfg)


def q_motifs_k4_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order motifs, driver-visible (the reference ships k=4/5 as
    tests, test/test_higher_order_motifs.jl — here the k=4 tier gets a full
    exact oracle too).  epsilon is tightened to 5e-6: sf0.01 has ~46k
    distinct 4-motif keys, and parity (estimate == exact count) needs the
    CMS width (ceil(e/eps) ~ 544k) to dwarf the key count so that no key
    collides on all d rows."""
    seq = _seq(spark, sf_dir)
    cfg = HyperSketchConfig(motif_size=4, min_count=K4_MIN, seed=42, epsilon=5e-6)
    return motif_counts(seq, cfg)


K5_MIN = 60
K5_MAX_NTOK = 30


def q_motifs_k5_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 motifs under the driver gate (verdict r3 item 4; the reference
    exercises k=5 in test/test_higher_order_motifs.jl) — the deepest tier
    of the vectorized lexicographic-unranking path.  Restricted to docs
    with n_tok <= 30 (filter pushed to the parquet scan) so the DuckDB
    5-way self-join oracle stays tractable at sf0.01: sum C(n_tok,5) is
    4.7M combos over 113 docs vs 6.1e9 unfiltered.  epsilon 3e-6 keeps
    the CMS load factor at ~0.3 over the ~271k distinct 5-keys; with
    depth 10 (delta 1e-4) the all-rows collision probability is ~1e-6 per
    key, so estimate == exact for every reported key."""
    seq = _seq(spark, sf_dir).filter(f"n_tok <= {K5_MAX_NTOK}")
    cfg = HyperSketchConfig(motif_size=5, min_count=K5_MIN, seed=42, epsilon=3e-6)
    return motif_counts(seq, cfg)


def q_conv_motifs_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convolution mode: pattern key = (m1, gap, m2), positions = word index."""
    seq = _seq(spark, sf_dir, with_positions=True).filter("n_tok <= 40")
    cfg = HyperSketchConfig(
        motif_size=2,
        min_count=CONV_MIN,
        filter_len=CONV_FILTER_LEN,
        seed=42,
        epsilon=1e-5,  # parity width: distinct (m1,gap,m2) keys are many
    )
    return enriched_configurations(seq, cfg, validate=False)


CONV3_MIN = 3


def q_conv_motifs_k3_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convolution mode at k=3 — the reference's flagship convolution test is
    motif_size=3 (test/test_large_example_convolution.jl:43-135); this puts
    the same tier under the driver's value-hash gate (verdict r4 item 1).
    Pattern key = (m1, d12, m2, d23, m3) with gap d = delta_pos - filter_len
    (CPU semantics, src/count_cpu.jl:47-53).  Same n_tok <= 40 slice as
    conv_motifs_k2 so the oracle reuses _POS_CTE; at sf0.01 that is 580k
    triples over 514k distinct keys — epsilon 1e-6 (width 2.72M, load 0.19)
    with depth 10 puts the all-rows collision probability near 2e-8 per key,
    so every reported estimate equals the exact count."""
    seq = _seq(spark, sf_dir, with_positions=True).filter("n_tok <= 40")
    cfg = HyperSketchConfig(
        motif_size=3,
        min_count=CONV3_MIN,
        filter_len=CONV_FILTER_LEN,
        seed=42,
        epsilon=1e-6,
    )
    return motif_counts(seq, cfg)


def q_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=1 heavy hitters via the aggregated pipeline (map-side combine)."""
    seq = _seq(spark, sf_dir)
    cfg = HyperSketchConfig(motif_size=1, min_count=HEAVY_MIN, seed=42)
    return motif_counts(seq, cfg).select("m1", "count", "n_occurrences").orderBy("m1")


def q_motifs_k2_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume build (SURVEY §2 #17/#18; reference
    partition.jl:253-345): bucket-atomic blobs are written, then the build
    is re-run against the same checkpoint dir — the resume path must skip
    every completed bucket and reload blobs to a byte-identical sketch.
    The extraction then runs off the resumed sketch and must hash-match
    motifs_k2_summary's oracle.  Both builds run EAGERLY at construction
    time by design — proving resume requires the first build's blobs to
    exist before the second starts.  Checkpoint location comes from
    `spark.epichypersketch.checkpointDir` (set it to a shared filesystem
    on a real cluster); the fallback is a driver-local tempdir, valid only
    in local mode."""
    from .operators.motif import build_motif_cms
    from .operators.sketch_build import delete_dir, resolve_checkpoint_dir

    seq = _seq(spark, sf_dir)
    cfg = HyperSketchConfig(motif_size=2, min_count=K2_MIN, seed=42)
    ckpt = resolve_checkpoint_dir(spark, "ehs_ckpt_q_")
    try:
        cms1, _ = build_motif_cms(seq, cfg, checkpoint_dir=ckpt, n_buckets=16)
        cms2, metrics = build_motif_cms(seq, cfg, checkpoint_dir=ckpt, n_buckets=16)
        if cms1.to_bytes() != cms2.to_bytes():
            raise AssertionError("resume produced a different sketch than the first build")
        if len(metrics) != 16:
            raise AssertionError(f"expected 16 bucket blobs, got {len(metrics)}")
        return motif_counts(seq, cfg, cms=cms2)
    finally:
        delete_dir(spark, ckpt)


def q_motifs_k2_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-uniform per-token weights: contribution of an occurrence is the
    sum of its member weights (the reference's `contribution` semantics,
    count_gpu_extract.jl:126-143, exercised beyond the uniform case).
    weight(token) = 1 + (token id mod 3) — derivable in ANSI SQL so the
    oracle can recompute it exactly; sums are small integers in fp64, so
    the bigint cast is lossless."""
    seq = _seq(spark, sf_dir).withColumn(
        "weights",
        F.transform("tokens", lambda t: F.lit(1.0) + (t % 3).cast("double")),
    )
    cfg = HyperSketchConfig(motif_size=2, min_count=K2_MIN, seed=42)
    out = motif_counts(seq, cfg)
    return out.withColumn(
        "total_contribution", F.col("total_contribution").cast("long")
    )


def q_motifs_k2_conservative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative-update CMS variant (north_star requirement).  At parity
    widths CU estimates equal plain estimates equal exact counts, so the
    same exact oracle applies; the CU-specific tightening under collisions
    is covered by unit tests."""
    seq = _seq(spark, sf_dir)
    cfg = HyperSketchConfig(motif_size=2, min_count=K2_MIN, seed=42, conservative=True)
    return motif_counts(seq, cfg)


def q_cms_cu_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative update in the COLLISION regime — the case where CU
    actually differs from plain CMS.  Two sketches are built over the same
    k=2 motif stream with a deliberately tiny table (d=3, width=55, far
    below the ~465 distinct keys, so every row is collision-saturated),
    then every distinct key is point-queried against both and checked
    against an exact distributed recount:

      n_cu_below_true  = 0   (CU never undercounts — the safety invariant)
      n_cu_above_plain = 0   (CU estimate <= plain estimate, per key)
      cu_strictly_tighter    (CU < plain for at least one key — proof the
                              collision regime is actually engaged; both
                              sketches are seed-deterministic, so this is a
                              stable fact of the data, not a coin flip)

    n_keys is the exact distinct-key count, recomputable in SQL."""
    import numpy as np

    from .operators.motif import build_motif_cms

    seq = _seq(spark, sf_dir)
    tiny = dict(motif_size=2, min_count=1, seed=42, delta=0.05, epsilon=0.05)
    cms_plain, _ = build_motif_cms(seq, HyperSketchConfig(**tiny))
    cms_cu, _ = build_motif_cms(seq, HyperSketchConfig(**tiny, conservative=True))

    toks = seq.select(
        "doc_id", F.posexplode(F.sort_array("tokens")).alias("idx", "tok")
    )
    a, b = toks.alias("a"), toks.alias("b")
    true_rows = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.idx") < F.col("b.idx")))
        .groupBy(F.col("a.tok").alias("m1"), F.col("b.tok").alias("m2"))
        .count()
        .collect()  # bounded by C(vocab, 2) — a key set, not row data
    )
    keys = np.array([[r.m1, r.m2] for r in true_rows], dtype=np.int64)
    true = np.array([r["count"] for r in true_rows], dtype=np.int64)
    est_plain = cms_plain.estimate(keys)
    est_cu = cms_cu.estimate(keys)
    return spark.createDataFrame(
        [
            (
                len(true_rows),
                int((est_cu < true).sum()),
                int((est_cu > est_plain).sum()),
                bool((est_cu < est_plain).any()),
            )
        ],
        schema="n_keys: long, n_cu_below_true: long, n_cu_above_plain: long, "
        "cu_strictly_tighter: boolean",
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event counts (the batch shape of the streaming agg)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour", "event_type")
    )


def q_events_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile over the events table."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.sum("value") * 100).cast("long").alias("total_value_x100"),
        )
        .orderBy("user_id")
    )


SESSION_GAP = "6 hours"  # mirrored as 21_600_000 ms in the oracle SQL
HOURLY_WATERMARK_MS = 7_200_000  # "2 hours", mirrored in the oracle SQL


def _events_stream(spark: SparkSession, sf_dir: str):
    """Streaming reader over the events parquet (file source needs a
    DIRECTORY base path; a single-file events.parquet streams via its
    parent dir + glob filter).  ts arrives TIMESTAMP_NTZ; cast under a
    UTC-pinned session so epoch-ms values match DuckDB's epoch_ms()."""
    ev_path = os.path.join(sf_dir, "events.parquet")
    batch = spark.read.parquet(ev_path)
    reader = spark.readStream.schema(batch.schema).format("parquet")
    if os.path.isdir(ev_path):
        raw = reader.load(ev_path)
    else:
        raw = reader.option("pathGlobFilter", os.path.basename(ev_path)).load(
            os.path.dirname(ev_path)
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_available_now(sess_df, name_prefix: str):
    """Run a streaming DataFrame to completion into a memory sink via an
    availableNow trigger; returns the sink table name.  The checkpoint dir
    honors `spark.epichypersketch.checkpointDir` (same conf as the batch
    checkpointed build — on a real cluster set it to a shared filesystem)
    and is removed when the run completes; a hung run raises instead of
    scoring partial results."""
    from .operators.sketch_build import delete_dir, resolve_checkpoint_dir

    spark = sess_df.sparkSession
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = resolve_checkpoint_dir(spark, f"ehs_{name_prefix}_ckpt_")
    try:
        q = (
            sess_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                f"streaming query {name} did not finish within 600 s"
            )
    finally:
        delete_dir(spark, ckpt)
    return name


def q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked tumbling-window aggregation (streaming/windows.py),
    driven through a REAL availableNow streaming run in append mode: a
    window row is emitted exactly once, when the event-time watermark
    passes its end (the final no-data micro-batch flushes every finalized
    window).  Windows newer than max(ts) - watermark are still open at
    end-of-stream and are never emitted — the oracle applies the same
    cutoff.  Exactly the events_hourly batch answer, restricted to
    finalized windows: the streaming path adds no approximation."""
    from .streaming.windows import windowed_event_counts

    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        stream = _events_stream(spark, sf_dir).select("ts", "event_type")
        agg = windowed_event_counts(
            stream, window="1 hour", watermark="2 hours"
        )
        name = _run_available_now(agg, "ehs_hourly")
        out = (
            spark.table(name)
            .select(
                F.unix_millis("window_start").alias("window_start_ms"),
                F.unix_millis("window_end").alias("window_end_ms"),
                "event_type",
                "n_events",
            )
            .orderBy("window_start_ms", "event_type")
        )
        rows = out.collect()
        spark.catalog.dropTempView(name)  # free the memory sink's rows
    finally:
        spark.conf.set(tz_key, old_tz)
    return spark.createDataFrame(rows, schema=out.schema)


def q_events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING (hopping) window aggregation through a real availableNow
    streaming run: 2-hour windows every 1 hour, so each event lands in
    exactly two windows.  Same append-mode finalization contract as
    events_hourly_stream — only windows whose end the watermark passed
    are emitted, and the oracle applies the identical cutoff after
    expanding each event into its two covering windows."""
    from .streaming.windows import windowed_event_counts

    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        stream = _events_stream(spark, sf_dir).select("ts", "event_type")
        agg = windowed_event_counts(
            stream, window="2 hours", slide="1 hour", watermark="2 hours"
        )
        name = _run_available_now(agg, "ehs_sliding")
        out = (
            spark.table(name)
            .select(
                F.unix_millis("window_start").alias("window_start_ms"),
                F.unix_millis("window_end").alias("window_end_ms"),
                "event_type",
                "n_events",
            )
            .orderBy("window_start_ms", "event_type")
        )
        rows = out.collect()
        spark.catalog.dropTempView(name)
    finally:
        spark.conf.set(tz_key, old_tz)
    return spark.createDataFrame(rows, schema=out.schema)


def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming event-time dedup (streaming/dedup.dedup_stream,
    dropDuplicatesWithinWatermark): the events stream unioned with itself
    — every event delivered twice, the at-least-once scenario — deduped
    on event_id with watermark-bounded state.  Because the duplicate rows
    are bit-identical, the surviving set is deterministic: exactly the
    distinct events, which the oracle recounts directly."""
    from .streaming.dedup import dedup_stream

    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        s1 = _events_stream(spark, sf_dir)
        s2 = _events_stream(spark, sf_dir)
        doubled = s1.unionByName(s2).select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        deduped = dedup_stream(
            doubled, ["event_id"], ts_col="ts", watermark="2 hours"
        )
        name = _run_available_now(deduped, "ehs_sdedup")
        out = (
            spark.table(name)
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.unix_millis("ts").alias("ts_ms"),
                F.round(F.col("value") * 100).cast("long").alias("value_x100"),
            )
            .orderBy("event_id")
        )
        rows = out.collect()
        spark.catalog.dropTempView(name)
    finally:
        spark.conf.set(tz_key, old_tz)
    return spark.createDataFrame(rows, schema=out.schema)


def q_events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful STREAMING operator (applyInPandasWithState
    sessionization, streaming/stateful.py), driven end-to-end through a real
    availableNow streaming run over the events parquet and checked against
    an exact DuckDB gap-sessionization oracle (lag + cumulative-sum).

    Only gap-closed sessions are emitted and compared: a session is closed
    by a LATER EVENT arriving past the gap, which is batch-boundary- and
    watermark-invariant (state carries across batches; the closing event
    closes it wherever it lands).  Each key's final, still-open session is
    never gap-closed, so the oracle drops each user's last session.
    Timestamps are compared at the operator's granularity (epoch ms)."""
    from .streaming.stateful import sessionize

    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        stream = _events_stream(spark, sf_dir).select("user_id", "ts", "value")
        sess = sessionize(stream, gap=SESSION_GAP, watermark="1 hour")
        name = _run_available_now(sess, "ehs_sessions")
        out = (
            spark.table(name)
            .filter(F.col("closed_by") == "gap")
            .select(
                "user_id",
                F.unix_millis("session_start").alias("session_start_ms"),
                F.unix_millis("session_end").alias("session_end_ms"),
                "n_events",
                F.round(F.col("total_value") * 100).cast("long").alias("total_value_x100"),
            )
            .orderBy("user_id", "session_start_ms")
        )
        # materialize before the memory-sink table goes out of scope
        rows = out.collect()
        spark.catalog.dropTempView(name)  # free the memory sink's rows
    finally:
        spark.conf.set(tz_key, old_tz)
    return spark.createDataFrame(rows, schema=out.schema)


def q_ntok_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact aggregates over the tokenized table (Catalyst layer)."""
    seq = tokenized_sequences(spark, sf_dir)
    return (
        seq.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------- training-data queries

JACCARD_T = 0.5
SHINGLE_DF_CAP = 1000  # stop-shingle cap, mirrored in the oracle SQL


def q_events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (streaming/joins.py): each view event
    matched with the same user's purchase events within the following
    hour — the attribution join, run through a real availableNow streaming
    execution with watermarked state on both sides.  Exactly oracle-able:
    the watermark only bounds state, it drops nothing for in-watermark
    data, so the emitted pair set equals the batch interval join DuckDB
    computes directly (multi-batch == batch equality is pinned separately
    by pytest via maxFilesPerTrigger=1)."""
    from .streaming.joins import stream_interval_join

    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        views = (
            _events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "view")
            .select("user_id", "event_id", "ts")
        )
        purchases = (
            _events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select("user_id", "event_id", "ts", "value")
        )
        j = stream_interval_join(
            views, purchases, key="user_id", max_delay="1 hour", watermark="2 hours"
        ).select(
            "user_id",
            F.col("l_event_id").alias("view_event_id"),
            F.col("r_event_id").alias("purchase_event_id"),
            F.unix_millis("l_ts").alias("view_ms"),
            F.unix_millis("r_ts").alias("purchase_ms"),
            F.round(F.col("r_value") * 100).cast("long").alias("purchase_value_x100"),
        )
        name = _run_available_now(j, "ehs_sjoin")
        out = spark.table(name).orderBy("view_event_id", "purchase_event_id")
        rows = out.collect()
        spark.catalog.dropTempView(name)  # free the memory sink's rows
    finally:
        spark.conf.set(tz_key, old_tz)
    return spark.createDataFrame(rows, schema=out.schema)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup

    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, n=3, threshold=JACCARD_T, max_shingle_df=SHINGLE_DF_CAP
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH precision check, oracle-able despite recall < 1: every
    LSH-emitted pair is exact-Jaccard verified, so the result must be a
    subset of the true exact-Jaccard pair set (n_lsh_pairs_not_in_exact =
    0), and with 25 true near-dup pairs in the corpus the banding must
    surface at least one (found_any).  The reference companion is the
    UNCAPPED exact index restricted to docs that appear in an LSH pair —
    Jaccard is pairwise, so restricting the corpus to those docs changes
    nothing about their pairwise values, and the restricted set is tiny
    (candidate count, not corpus size), so the exhaustive index is cheap.
    A capped reference would NOT be an invariant: LSH signatures cover ALL
    shingles, so a legitimately-emitted pair whose shared shingles are all
    hot would be absent from a capped reference.  The raw pair list itself
    stays covered by tests/test_pipeline_ops.py's subset/recall
    assertions."""
    from .operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    lsh = minhash_lsh_pairs(docs, n=3, num_perm=64, bands=16, threshold=JACCARD_T).persist()
    try:
        pair_ids = (
            lsh.select(F.col("doc_a").alias("doc_id"))
            .unionByName(lsh.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        cand_docs = docs.join(F.broadcast(pair_ids), "doc_id")
        exact = ngram_jaccard_pairs(
            cand_docs, n=3, threshold=JACCARD_T, max_shingle_df=None
        ).select("doc_a", "doc_b")
        n_bad = lsh.select("doc_a", "doc_b").join(exact, ["doc_a", "doc_b"], "left_anti").count()
        n_found = lsh.count()
    finally:
        lsh.unpersist()
    return spark.createDataFrame(
        [(n_bad, n_found >= 1)],
        schema="n_lsh_pairs_not_in_exact: long, found_any: boolean",
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bound check: (a) every emitted pair's recomputed Hamming
    distance must agree and be <= 3; (b) pigeonhole completeness — the
    4x16-bit banding must find EVERY pair within radius 3, verified against
    a brute-force all-pairs recount (O(N^2/2) on signatures only, fine at
    gate scale; the operator itself never goes quadratic)."""
    from .operators.dedup import simhash_64, simhash_near_pairs

    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    pairs = simhash_near_pairs(docs, max_hamming=3).persist()
    sh = simhash_64(docs).persist()
    joined = (
        pairs.join(
            sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("simhash", "ha"),
            "doc_a",
        )
        .join(
            sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("simhash", "hb"),
            "doc_b",
        )
        .withColumn("hd", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
    )
    try:
        n_viol = joined.filter((F.col("hd") > 3) | (F.col("hd") != F.col("hamming"))).count()
        a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
        b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
        brute = (
            a.crossJoin(b)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 3)
            .select("doc_a", "doc_b")
        )
        n_missed = brute.join(
            pairs.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
        ).count()
    finally:
        pairs.unpersist()
        sh.unpersist()
    return spark.createDataFrame(
        [(n_viol, n_missed)],
        schema="n_hamming_violations: long, n_missed_close_pairs: long",
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER resolution — the step pair-emitting dedup
    leaves to the user: exact Jaccard pairs -> connected components
    (min-label propagation with pointer jumping, operators/dedup.py) ->
    keeper election.  One row per document: (doc_id, cluster_id,
    cluster_size, is_keeper); dropping is_keeper = false rows IS the dedup
    pass.  Transitivity matters: A~B and B~C land A, B, C in one cluster
    even when A and C were never directly compared.  Exactly oracle-able —
    DuckDB computes the same transitive closure with a recursive CTE."""
    from .operators.dedup import ngram_jaccard_pairs, resolve_duplicate_clusters

    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=JACCARD_T, max_shingle_df=None)
    return resolve_duplicate_clusters(docs, pairs).orderBy("doc_id")


def q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate CLUSTER resolution: exact cosine
    pairs (>= 0.4) -> connected components -> keeper election, the same
    resolution step dedup_clusters proves for text.  Exactly oracle-able:
    DuckDB recomputes the pair set with list_cosine_similarity (verified
    bit-identical to the Spark aggregate-based cosine on this data — no
    pair sits within 1e-9 of the threshold) and the same transitive
    closure with a recursive CTE.  The brute-force O(N^2) pair scan here
    is the verification-gate shape; the scale path is cosine_neardup_lsh
    feeding the same resolve_duplicate_clusters."""
    from .operators.dedup import resolve_duplicate_clusters
    from .operators.similarity import _cosine_expr

    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = vecs.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(_cosine_expr(F.col("va"), F.col("vb")) >= 0.4)
        .select("doc_a", "doc_b")
    )
    return (
        resolve_duplicate_clusters(emb, pairs, id_col="vec_id")
        .select(
            F.col("doc_id").alias("vec_id"),
            "cluster_id",
            "cluster_size",
            "is_keeper",
        )
        .orderBy("vec_id")
    )


CHUNK_MAX_WORDS = 64
CHUNK_OVERLAP = 8  # stride 56, mirrored in the oracle SQL


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (corpus_prep.chunk_documents): each document
    split into <= 64-word windows with 8 words of overlap — the
    pre-tokenizer step of a training pipeline.  Pure Catalyst (split /
    sequence / posexplode / slice), zero Python, no shuffle; the oracle
    recomputes the identical window layout with list slicing."""
    from .operators.corpus_prep import chunk_documents

    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, max_words=CHUNK_MAX_WORDS, overlap=CHUNK_OVERLAP
    ).orderBy("doc_id", "chunk_id")


def q_stable_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment (corpus_prep.stable_split):
    split = contiguous xxhash64-bucket ranges, so membership depends only on
    (doc_id, seed).  xxhash64 is not reproducible in DuckDB, so the oracle
    is invariant-style: the exact total, full assignment coverage, realized
    fractions inside binomial bounds, and partition-order independence
    (re-deriving the split after a repartition(7) changes zero rows) —
    each reduced to a value DuckDB states exactly."""
    from .operators.corpus_prep import stable_split

    docs = read_table(spark, sf_dir, "documents")
    s = stable_split(docs, fractions={"train": 0.8, "valid": 0.1, "test": 0.1})
    agg = (
        s.groupBy()
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("split").isNull(), 1).otherwise(0)).alias("n_null"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_train"),
            F.sum(F.when(F.col("split") == "valid", 1).otherwise(0)).alias("n_valid"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_test"),
        )
        .collect()[0]
    )
    s2 = stable_split(
        docs.repartition(7), fractions={"train": 0.8, "valid": 0.1, "test": 0.1}
    ).select("doc_id", F.col("split").alias("split2"))
    n_moved = (
        s.select("doc_id", "split")
        .join(s2, "doc_id")
        .filter(F.col("split") != F.col("split2"))
        .count()
    )
    n = agg.n
    ok_frac = (
        abs(agg.n_train / n - 0.8) <= 0.05
        and abs(agg.n_valid / n - 0.1) <= 0.04
        and abs(agg.n_test / n - 0.1) <= 0.04
    )
    return spark.createDataFrame(
        [(int(n), int(agg.n_null), bool(ok_frac), int(n_moved))],
        schema="n_total: long, n_unassigned: long, fractions_in_bounds: boolean, n_partition_moved: long",
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import token_stats

    return token_stats(read_table(spark, sf_dir, "documents"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import quality_score

    return quality_score(read_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import lang_id_heuristic

    return lang_id_heuristic(read_table(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import doc_fingerprint

    return doc_fingerprint(read_table(spark, sf_dir, "documents"))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import cosine_topk

    emb = read_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    queries = emb.filter("vec_id < 10")
    return cosine_topk(emb, queries, k=10)


def q_ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall check (recall < 1, so the invariant — not the raw
    neighbor list — is what the oracle pins): exactly 10 queries x 10
    results, and mean recall@10 against the exact brute-force top-k >= 0.6
    (measured ~0.8 at nprobe=8/nlist=16 across sf0.001-0.1, comfortable
    margin).  The neighbor list itself stays covered by
    tests/test_pipeline_ops.py::test_ivf_topk_recall."""
    from .operators.similarity import cosine_topk, cosine_topk_ivf

    emb = read_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    queries = emb.filter("vec_id < 10")
    ivf = cosine_topk_ivf(emb, queries, k=10, nlist=16, nprobe=8).persist()
    exact = cosine_topk(emb, queries, k=10)
    try:
        n_results = ivf.count()
        n_hits = ivf.select("qid", "nid").join(exact, ["qid", "nid"], "left_semi").count()
        n_queries = queries.count()
    finally:
        ivf.unpersist()
    mean_recall = n_hits / max(n_queries * 10, 1)
    return spark.createDataFrame(
        [(n_queries, n_results, mean_recall >= 0.6)],
        schema="n_queries: long, n_results: long, mean_recall_ge_60: boolean",
    )


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup precision check: every LSH-emitted pair is
    exact-cosine verified, so the result must be a subset of the
    brute-force >= threshold pair set (n_false_pairs = 0), and the
    multi-table banding must surface at least one of the true near-dup
    pairs present at every SF (found_any)."""
    from .operators.similarity import _cosine_expr, cosine_neardup_lsh

    emb = read_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    pairs = cosine_neardup_lsh(emb, n_planes=4, n_tables=8, threshold=0.4).persist()
    vecs = emb.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v"))
    a = vecs.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(_cosine_expr(F.col("va"), F.col("vb")) >= 0.4)
        .select("doc_a", "doc_b")
    )
    try:
        n_false = (
            pairs.select("doc_a", "doc_b").join(brute, ["doc_a", "doc_b"], "left_anti").count()
        )
        n_found = pairs.count()
    finally:
        pairs.unpersist()
    return spark.createDataFrame(
        [(n_false, n_found >= 1)],
        schema="n_false_pairs: long, found_any: boolean",
    )


def q_distinct_tokens_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct (Catalyst) — companion to the HLL estimate below."""
    seq = _seq(spark, sf_dir)
    return (
        seq.select("source", F.explode("tokens").alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").alias("n_distinct"))
        .orderBy("source")
    )


def q_hll_tokens_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL epsilon-bound check (north_rule: estimates within the published
    error bound): per source, |hll - exact| <= 3*rsd*exact with
    rsd = 1.04/sqrt(2^p) — a >=99.7% bound per group, deterministic here
    because the hash seed is fixed.  Emits the exact count too, so the
    oracle pins real values, not just the boolean."""
    from .operators.cardinality import hll_distinct

    p = 14
    rsd = 1.04 / (2 ** (p / 2))
    seq = _seq(spark, sf_dir)
    est = hll_distinct(seq, "tokens", group_col="source", p=p, seed=42)
    exact = (
        seq.select("source", F.explode("tokens").alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").alias("n_exact"))
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            "n_exact",
            (
                F.abs(F.col("approx_distinct") - F.col("n_exact"))
                <= F.greatest(F.lit(3 * rsd) * F.col("n_exact"), F.lit(1.0))
            ).alias("within_3rsd"),
        )
        .orderBy("source")
    )


# Rank-error bound for the KLL/t-digest driver checks.  Two-sided and
# tie-aware: for discrete data the exact rank can jump across a heavy value,
# so the invariant is rank(v-)/n <= q + eps AND rank(v+)/n >= q - eps.
KLL_EPS = 0.03  # k=256; unit tests measure < 0.02 on continuous streams
TDIGEST_EPS = 0.02  # compression=200


def _rank_bound_check(
    spark: SparkSession, df: DataFrame, col: str, qs: dict[float, float], eps: float
) -> DataFrame:
    from .errors import InputError

    items = sorted(qs.items())
    # count(col), not count(*): NULLs are excluded from the sketch and from
    # the lo/hi comparisons, so they must be excluded from n as well
    aggs = [F.count(F.col(col)).alias("n")]
    for i, (_q, v) in enumerate(items):
        aggs.append(F.sum((F.col(col) < v).cast("long")).alias(f"lo{i}"))  # rank(v-)
        aggs.append(F.sum((F.col(col) <= v).cast("long")).alias(f"hi{i}"))  # rank(v+)
    row = df.agg(*aggs).first()  # one scan for every quantile
    n = row.n
    if not n:
        raise InputError("rank-error bound check over an empty input")
    rows = []
    for i, (q, _v) in enumerate(items):
        ok = (row[f"lo{i}"] / n <= q + eps) and (row[f"hi{i}"] / n >= q - eps)
        rows.append((float(q), bool(ok)))
    return spark.createDataFrame(rows, schema="q: double, rank_error_ok: boolean")


def q_kll_ntok_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL rank-error bound check (north_rule): the estimated quantile's
    true rank must sit within eps of q (two-sided, tie-aware)."""
    from .operators.quantiles import kll_quantiles

    seq = _seq(spark, sf_dir)
    qs = kll_quantiles(seq, "n_tok", [0.1, 0.5, 0.9, 0.99], k=256, seed=42)
    return _rank_bound_check(spark, seq, "n_tok", qs, KLL_EPS)


KLLG_QS = [0.1, 0.5, 0.9]


def q_kll_ntok_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped KLL quantiles (operators/quantiles.kll_quantiles_grouped):
    per-source n_tok quantile sketches built one-per-(task, group) and
    merged by hash-partitioned blobs — the quantile companion to the
    grouped HLL.  Each estimate is pinned by the same two-sided tie-aware
    rank check as the ungrouped KLL query, per group."""
    from .operators.quantiles import kll_quantiles_grouped

    seq = _seq(spark, sf_dir)
    est = kll_quantiles_grouped(seq, "n_tok", "source", KLLG_QS, k=256, seed=42)
    j = seq.select("source", "n_tok").join(F.broadcast(est), "source")
    # count(n_tok), not count(*): NULLs are excluded from the sketch and
    # from the lo/hi comparisons, so they must be excluded from n as well
    # (same discipline as the ungrouped _rank_bound_check)
    agg = j.groupBy("source", "q").agg(
        F.count(F.col("n_tok")).alias("n"),
        F.sum((F.col("n_tok") < F.col("est")).cast("long")).alias("lo"),
        F.sum((F.col("n_tok") <= F.col("est")).cast("long")).alias("hi"),
    )
    return agg.select(
        "source",
        "q",
        F.col("n").alias("n_docs"),
        (
            (F.col("lo") / F.col("n") <= F.col("q") + F.lit(KLL_EPS))
            & (F.col("hi") / F.col("n") >= F.col("q") - F.lit(KLL_EPS))
        ).alias("rank_error_ok"),
    ).orderBy("source", "q")


def q_tdigest_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest rank-error bound check, same invariant as the KLL query."""
    from .operators.quantiles import tdigest_quantiles

    ev = read_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    qs = tdigest_quantiles(ev, "value", [0.01, 0.5, 0.99], compression=200.0)
    return _rank_bound_check(spark, ev, "value", qs, TDIGEST_EPS)


def q_tdigest_value_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped t-digest quantiles (operators/quantiles.
    tdigest_quantiles_grouped): per-event-type value quantiles through
    the shared grouped-sketch plumbing (one digest per (task, group),
    hash-partitioned blob merge, map-side flush budget).  Each estimate
    pinned by the per-group two-sided rank check, tail quantiles
    included (t-digest's specialty)."""
    from .operators.quantiles import tdigest_quantiles_grouped

    ev = read_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    est = tdigest_quantiles_grouped(
        ev, "value", "event_type", [0.01, 0.5, 0.99], compression=200.0
    )
    j = ev.select("event_type", "value").join(F.broadcast(est), "event_type")
    agg = j.groupBy("event_type", "q").agg(
        F.count(F.col("value")).alias("n"),
        F.sum((F.col("value") < F.col("est")).cast("long")).alias("lo"),
        F.sum((F.col("value") <= F.col("est")).cast("long")).alias("hi"),
    )
    return agg.select(
        "event_type",
        "q",
        F.col("n").alias("n_events"),
        (
            (F.col("lo") / F.col("n") <= F.col("q") + F.lit(TDIGEST_EPS))
            & (F.col("hi") / F.col("n") >= F.col("q") - F.lit(TDIGEST_EPS))
        ).alias("rank_error_ok"),
    ).orderBy("event_type", "q")


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reducer: orders whose custkey passes a Bloom
    built over high-balance customers (no false negatives; FPs possible)."""
    from .operators.cardinality import bloom_semijoin, build_bloom

    cust = read_table(spark, sf_dir, "customer").filter("c_acctbal > 5000")
    # fpp tight enough that zero false positives are expected at this probe
    # volume, making the exact semi-join a valid oracle (seeded/deterministic)
    bloom = build_bloom(cust, "c_custkey", n_expected=100_000, fpp=1e-9, seed=42)
    orders = read_table(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    return bloom_semijoin(orders, "o_custkey", bloom).select("o_orderkey", "o_custkey")


def q_cms_frequency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS frequency-gated semi-join (heavy-hitter gate without a count
    table): keep orders whose customer placed >= 20 orders, judged by a
    CMS built over o_custkey.  Exact-parity regime (distinct custkeys <<
    width), so the exact GROUP BY/HAVING recount is a valid oracle."""
    from .operators.cardinality import build_cms_over_column, cms_semijoin

    orders = read_table(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    cms = build_cms_over_column(orders, "o_custkey", seed=42)
    return cms_semijoin(orders, "o_custkey", cms, min_count=20).select(
        "o_orderkey", "o_custkey"
    )


def q_topk_event_types_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries approximate top-k in the EXACT-PARITY regime: top-3
    event types per user with n_counters far above the 5 distinct types,
    so no slice ever truncates, every estimate equals the exact count and
    err_bound is 0 — making the SQL count + row_number recount a full
    value-hash oracle (same split as cms_frequency_gate vs
    cms_cu_collision).  Ties broken by item ascending on both sides."""
    from .operators.topk import approx_topk

    ev = read_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = approx_topk(ev, "event_type", k=3, n_counters=64, group_col="user_id")
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("item").alias("event_type"),
        "est_count",
        "err_bound",
    ).orderBy("user_id", F.col("est_count").desc(), "event_type")


# events.user_id at sf0.01: 150 distinct users over 10,000 events, so with
# TOPK_M = 128 every ~2,500-event slice sees more distinct users than
# counters and must truncate (the approximation regime is engaged), while
# 19 users exceed the N/(m+1) heavy threshold — a non-vacuous completeness
# set.  4 fixed slices keep "every slice truncates" true regardless of the
# session's parallelism.
TOPK_M = 128
TOPK_SLICES = 4


def q_topk_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries top-k in the TRUNCATION regime, pinned by its published
    invariants (Agarwal et al., Mergeable Summaries, PODS 2012):

      underest_ok      — est_count <= exact for every summary entry
      bound_ok         — exact - est_count <= err_bound (<= N/(m+1))
      heavy_all_found  — every user with exact*(m+1) > N is in the summary
      approx_engaged   — est < exact somewhere (truncation actually
                         happened; with 150 distinct users per ~2,500-event
                         slice vs m=128 this holds under any partitioning
                         the driver gate runs)

    n_values / n_distinct / n_heavy / n_out are exact, SQL-recomputable."""
    from .operators.topk import approx_topk

    k, m = 10, TOPK_M
    ev = read_table(spark, sf_dir, "events").repartition(TOPK_SLICES)
    summ = approx_topk(ev, "user_id", k=None, n_counters=m).alias("s")
    exact = (
        ev.groupBy(F.col("user_id").cast("string").alias("item"))
        .agg(F.count("*").alias("exact"))
        .alias("e")
    )
    n_values = ev.count()
    j = summ.withColumn("item", F.col("item").cast("string")).join(
        exact, "item", "full"
    )
    row = j.agg(
        F.count("*").alias("n_distinct"),
        F.sum(F.when(F.col("exact") * (m + 1) > n_values, 1).otherwise(0)).alias(
            "n_heavy"
        ),
        F.min(
            F.when(F.col("est_count").isNull(), True).otherwise(
                F.col("est_count") <= F.col("exact")
            )
        ).alias("underest_ok"),
        F.min(
            F.when(F.col("est_count").isNull(), True).otherwise(
                F.col("exact") - F.col("est_count") <= F.col("err_bound")
            )
        ).alias("bound_ok"),
        F.min(
            F.when(
                F.col("exact") * (m + 1) > n_values, F.col("est_count").isNotNull()
            ).otherwise(True)
        ).alias("heavy_all_found"),
        F.max(
            F.col("est_count").isNotNull() & (F.col("est_count") < F.col("exact"))
        ).alias("approx_engaged"),
    ).first()
    topk_rows = summ.orderBy(F.col("est_count").desc(), "item").limit(k).count()
    return spark.createDataFrame(
        [
            (
                n_values,
                row.n_distinct,
                int(row.n_heavy),
                int(topk_rows),
                bool(row.underest_ok),
                bool(row.bound_ok),
                bool(row.heavy_all_found),
                bool(row.approx_engaged),
            )
        ],
        schema="n_values: long, n_distinct: long, n_heavy: long, n_out: long, "
        "underest_ok: boolean, bound_ok: boolean, heavy_all_found: boolean, "
        "approx_engaged: boolean",
    )


# BM25 query bag: two corpus-common terms + one rare term ('dup', df~25 of
# 500) so idf spread is non-trivial.  Scores are emitted in 1e-9 fixed
# point; the Spark expression tree and the SQL mirror evaluate the same
# IEEE-754 operations in the same order (double literals forced via
# e-notation in DuckDB, which otherwise parses decimals as DECIMAL).
BM25_TERMS = ["hash", "join", "dup"]


def q_bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance scoring (operators/text_analysis.bm25_scores):
    corpus stats fold into the scoring expression as literals (no join),
    one codegen pass scores every doc.  Full value-hash oracle — the
    floating score is reproduced bit-for-bit in DuckDB and compared in
    1e-9 fixed point."""
    from .operators.text_analysis import bm25_scores

    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = bm25_scores(docs, BM25_TERMS, k1=1.2, b=0.75)
    return out.select(
        "doc_id",
        "dl",
        "tf_0",
        "tf_1",
        "tf_2",
        F.floor(F.col("score") * F.lit(1000000000.0)).alias("score_fp"),
    ).orderBy("doc_id")


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch as-of join (operators/asof.py): each purchase matched to the
    single most recent view of the same user at-or-before it, within a
    2-hour tolerance — the temporal feature-lookup/attribution primitive.
    Union + running-window plan: one shuffle, no range-join explosion.
    Tie semantics pinned on both sides: best ts, then greatest event_id."""
    from .operators.asof import asof_join

    ev = read_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view")
    out = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        tiebreak="event_id",
        tolerance="INTERVAL 2 HOURS",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.col("event_id_asof").alias("view_event_id"),
        F.unix_millis(F.col("ts_asof").cast("timestamp")).alias("view_ts_ms"),
        F.col("value_asof").alias("view_value"),
    ).orderBy("event_id")


def q_events_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of a FAMILY sketch (StreamingAnySketchJob):
    an HLL over events.user_id ingested through a real availableNow
    streaming run (blob-append per micro-batch, merged on read).  The
    streamed registers are bit-identical to a batch build by merge
    order-invariance, so the estimate carries the same 3·rsd bound check
    as hll_tokens_per_source, against an exact SQL-recomputable
    companion.  Blob/checkpoint dirs resolve through
    `spark.epichypersketch.checkpointDir` (the one conf shared with every
    checkpointed path; driver-local tempdir fallback is local-mode-only)
    and are removed on completion; a hung run raises rather than scoring
    a partial sketch."""
    from .operators.sketch_build import delete_dir, resolve_checkpoint_dir
    from .sketches.hll import HyperLogLog
    from .streaming.sketch_stream import StreamingAnySketchJob

    p = 14
    rsd = 1.04 / (2 ** (p / 2))
    base = resolve_checkpoint_dir(spark, "ehs_stream_hll_")
    try:
        job = StreamingAnySketchJob(
            lambda: HyperLogLog(p=p, seed=42),
            lambda sk, b, st: sk.update_batch(
                b.column("user_id").to_numpy(zero_copy_only=False)
            ),
            os.path.join(base, "blobs"),
        )
        stream = _events_stream(spark, sf_dir).select("user_id")
        q = job.start(
            stream,
            checkpoint_dir=os.path.join(base, "ckpt"),
            available_now=True,
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("events_stream_hll did not finish within 300 s")
        est = int(round(job.current_sketch(spark).estimate()))
    finally:
        delete_dir(spark, base)
    ev = read_table(spark, sf_dir, "events")
    n_exact = ev.select(F.countDistinct("user_id")).first()[0]
    ok = abs(est - n_exact) <= max(3 * rsd * n_exact, 1.0)
    return spark.createDataFrame(
        [(int(n_exact), bool(ok))], schema="n_exact: long, within_3rsd: boolean"
    )


def q_token_entropy_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per source
    (text_analysis.token_entropy) — the corpus-diversity diagnostic.
    Per-distinct-token ln terms quantize to 1e-9 fixed point before the
    weighted integer sum, so the entropy itself is SQL-recomputable."""
    from .operators.text_analysis import token_entropy

    seq = _seq(spark, sf_dir)
    out = token_entropy(seq, "tokens", group_col="source")
    return out.select(
        "source", "n_values", "n_distinct", "entropy_fp_sum"
    ).orderBy("source")


def q_token_kl_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the pooled corpus token distribution
    (text_analysis.token_kl_vs_corpus) — the drift diagnostic.  Same
    fixed-point-before-sum discipline; the integer sums hash-match."""
    from .operators.text_analysis import token_kl_vs_corpus

    seq = _seq(spark, sf_dir)
    out = token_kl_vs_corpus(seq, "tokens", "source")
    return out.select("source", "n_values", "kl_fp_sum").orderBy("source")


def q_bigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram log-probability scoring (operators/lm.py) — the
    perplexity-style fluency gate.  Per-pair ln values quantize to 1e-9
    fixed point BEFORE summation, so the per-doc score is an integer sum:
    order-free, partition-invariant, and exactly recomputable in SQL."""
    from .operators.lm import bigram_logprob

    seq = _seq(spark, sf_dir, with_positions=True)
    out = bigram_logprob(seq)
    return out.select("doc_id", "n_pairs", "logprob_fp_sum").orderBy("doc_id")


def q_trigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc TRIGRAM log-probability with interpolated (Jelinek-Mercer)
    backoff, lambdas (0.7, 0.2, 0.1) — verdict r3 item 6.  The
    interpolated probability is computed per DISTINCT triple with a
    left-associative expression tree mirrored verbatim in the oracle,
    then floor(ln(p)*1e9) quantizes before the per-doc integer sum —
    the same order-free cross-engine parity as bigram_logprob."""
    from .operators.lm import trigram_logprob

    seq = _seq(spark, sf_dir, with_positions=True)
    out = trigram_logprob(seq)
    return out.select("doc_id", "n_triples", "logprob_fp_sum").orderBy("doc_id")


def q_kn_bigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram scoring under KNESER-NEY smoothing
    (operators/lm.kn_bigram_logprob, D = 0.75): absolute discounting plus
    the continuation-probability backoff — the standard best-practice
    n-gram smoothing, still fully SQL-exact because the estimator is
    counts + one float literal with the same
    fixed-point-ln-before-integer-sum discipline."""
    from .operators.lm import kn_bigram_logprob

    seq = _seq(spark, sf_dir, with_positions=True)
    out = kn_bigram_logprob(seq)
    return out.select("doc_id", "n_pairs", "logprob_fp_sum").orderBy("doc_id")


PMI_MIN = 2000


def q_motif_pmi_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI enrichment over the sketch's qualifying pairs
    (operators/motif.motif_pmi): count companions are integers and the
    ln-based score is emitted in 1e-6 fixed point with the identical
    IEEE-754 expression tree in the oracle — a full value-hash oracle for
    the quantitative enrichment measure."""
    from .operators.motif import motif_pmi

    seq = _seq(spark, sf_dir)
    cfg = HyperSketchConfig(motif_size=2, min_count=PMI_MIN, seed=42)
    out = motif_pmi(seq, cfg)
    return out.select(
        "m1",
        "m2",
        "c_ab",
        "c_1",
        "c_2",
        F.floor(F.col("pmi") * F.lit(1000000.0)).alias("pmi_fp"),
    ).orderBy("m1", "m2")


WSAMPLE_K = 5


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES,
    operators/sampling.py): 5 docs per source with probability
    proportional to n_chars.  The uniform source is the KMV permutation
    hash, so the FULL sample (not just its size) is recomputed by the
    SQL oracle — selection is a pure function of the data."""
    from .operators.sampling import weighted_sample

    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = weighted_sample(
        docs, id_col="doc_id", weight_col="n_chars", k=WSAMPLE_K,
        group_col="source",
    )
    return out.select(
        "source", "doc_id", "n_chars", F.col("sample_rank").cast("long").alias("sample_rank")
    ).orderBy("source", "sample_rank")


WSAMPLE_GLOBAL_K = 12


def q_weighted_sample_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNGROUPED deterministic weighted sample (verdict r3 item 2): the
    scale path is per-partition bottom-k pruning (mapInArrow, no shuffle)
    + TakeOrderedAndProject over the tasks*k survivors — the full input
    never crosses a SinglePartition exchange (pinned by
    tests/test_plan_shapes.py).  Selection is still a pure function of
    the data, so the oracle re-derives the FULL sample in SQL."""
    from .operators.sampling import weighted_sample

    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = weighted_sample(
        docs, id_col="doc_id", weight_col="n_chars", k=WSAMPLE_GLOBAL_K
    )
    return out.select(
        "doc_id",
        "n_chars",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    ).orderBy("sample_rank")


# KMV bottom-k sketch params: k=256 over ~1300 distinct custkeys per
# priority engages the ESTIMATION regime (sketch full, est = (k-1)*P div
# h_k); k=16 over 6-31 distinct tokens per document engages truncation for
# the Jaccard estimator while keeping the per-pair union windows cheap.
KMV_K = 256
KMV_JACCARD_K = 16


def q_kmv_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct sketch with a FULL value-hash oracle — unlike
    HLL, the ESTIMATE itself is SQL-recomputable: the sketch hash is two
    quadratic permutation rounds mod 2^31-1 (pure int64 Catalyst arithmetic,
    sketches/kmv.py) and the estimator is integer division, so DuckDB
    reproduces n_kept, kth_hash and est_distinct bit-for-bit.  within_3rse
    is the published bound |est/exact - 1| <= 3/sqrt(k-1) checked in
    all-integer form (est-exact)^2 * (k-1) <= 9 * exact^2."""
    from .operators.cardinality import kmv_distinct

    k = KMV_K
    orders = read_table(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    est = kmv_distinct(orders, "o_custkey", group_col="o_orderpriority", k=k)
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    d = F.col("est_distinct") - F.col("n_exact")
    return (
        est.join(exact, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("n_kept").cast("long").alias("n_kept"),
            "kth_hash",
            F.col("est_distinct").cast("long").alias("est_distinct"),
            "n_exact",
            (d * d * (k - 1) <= 9 * F.col("n_exact") * F.col("n_exact")).alias(
                "within_3rse"
            ),
        )
        .orderBy("o_orderpriority")
    )


KMV_SETOPS_K = 128
TOPK_DISTINCT_N = 8


def q_topk_distinct_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Superspreader' selection (operators/cardinality.
    topk_distinct_groups): the 8 sources with the largest approximate
    distinct-token count, ranked by the KMV estimator.  Sketch
    composition with a FULL oracle: the per-group bottom-k, the integer
    estimator, AND the ranking are all recomputed verbatim in SQL —
    the approximate ordering itself is hash-matched, which an HLL-ranked
    top-k cannot offer."""
    from .operators.cardinality import topk_distinct_groups

    seq = _seq(spark, sf_dir)
    out = topk_distinct_groups(
        seq, "tokens", "source", k_sketch=KMV_SETOPS_K, n=TOPK_DISTINCT_N
    )
    return out.select(
        "source",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("est_distinct").cast("long").alias("est_distinct"),
    ).orderBy(F.col("est_distinct").desc(), "source")


def q_kmv_source_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise union/intersection cardinality estimates between the
    sources' token sets (operators/cardinality.kmv_set_ops): the union of
    two bottom-k sketches re-truncated to k IS the union's KMV sketch, so
    est_union uses the integer estimator verbatim and est_intersection =
    n_common * est_union div k_used — every estimate SQL-recomputable,
    full value-hash oracle over all 190 source pairs."""
    from .operators.cardinality import kmv_set_ops, kmv_sketch_per_group

    seq = _seq(spark, sf_dir)
    sk = kmv_sketch_per_group(seq, "tokens", group_col="source", k=KMV_SETOPS_K)
    out = kmv_set_ops(sk, k=KMV_SETOPS_K)
    return out.select(
        F.col("group_1").alias("source_1"),
        F.col("group_2").alias("source_2"),
        "k_used",
        "n_common",
        F.col("est_union").cast("long").alias("est_union"),
        F.col("est_intersection").cast("long").alias("est_intersection"),
    ).orderBy("source_1", "source_2")


AMS_D = 8


def q_ams_f2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment estimate of the token column per source
    (operators/moments.ams_f2) — the self-join-size / repeat-rate
    diagnostic.  The d=8 sign-hash sums are pure Catalyst integer
    arithmetic (parity of the KMV permutation hash), so the sketch STATE
    and the integer estimate (lower median of S_r^2) hash-match the
    DuckDB oracle exactly; exact_f2 rides along as the accuracy
    companion.  Plan: ONE aggregate with map-side partial sums — no
    shuffle of values (the exact companion is the part that shuffles;
    at 100 TB you would run the sketch alone)."""
    from .operators.moments import ams_f2

    seq = _seq(spark, sf_dir)
    est = ams_f2(seq, "tokens", group_col="source", d=AMS_D)
    tok = seq.select("source", F.explode("tokens").alias("t"))
    exact = (
        tok.groupBy("source", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("source")
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_f2"))
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            "n_values",
            *[f"s_{r}" for r in range(AMS_D)],
            "f2_est",
            "exact_f2",
        )
        .orderBy("source")
    )


def q_ams_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimated WITHOUT executing the join
    (operators/moments.ams_join_size, AGMS 1999): orders.o_custkey vs
    customer.c_custkey, two scan-and-aggregate passes, d=8 sign sums per
    side.  Sketch state, the median-product estimate, AND the exact join
    size companion are all SQL-recomputable — full value-hash oracle for
    the planner statistic."""
    from .operators.moments import ams_join_size

    orders = read_table(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    cust = read_table(spark, sf_dir, "customer")
    est = ams_join_size(orders, "o_custkey", cust, "c_custkey", d=AMS_D)
    exact = (
        orders.groupBy("o_custkey").agg(F.count("*").alias("ca"))
        .join(
            cust.groupBy("c_custkey").agg(F.count("*").alias("cb")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("exact_join_size"))
    )
    return est.crossJoin(exact).select(
        "n_a",
        "n_b",
        *[f"sa_{r}" for r in range(AMS_D)],
        *[f"sb_{r}" for r in range(AMS_D)],
        "join_size_est",
        "exact_join_size",
    )


CS_W = 16
CS_D = 5


def q_count_sketch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count Sketch (sketches/countsketch.py — the signed, UNBIASED
    counter family member) over the token column at width 16, where the
    31-token vocabulary forces ~2 tokens per bucket per row — the
    COLLISION regime: the estimates differ from
    exact counts, and the oracle recomputes THOSE ESTIMATES exactly —
    bucket hash, sign hash, every colliding cell sum, and the odd-depth
    integer median are all the package's SQL-expressible permutation
    arithmetic.  A full value-hash oracle of an approximate sketch
    including its collision error."""
    import numpy as np

    from .operators.sketch_build import build_sketch_distributed, value_column_update
    from .sketches.countsketch import CountSketch

    seq = _seq(spark, sf_dir)
    src = seq.select(F.explode("tokens").alias("v"))
    cs, _ = build_sketch_distributed(
        src, lambda: CountSketch(width=CS_W, depth=CS_D), value_column_update(src, "v")
    )
    rows = src.groupBy("v").agg(F.count("*").alias("exact_c")).collect()
    toks = np.array([r.v for r in rows], dtype=np.int64)
    est = cs.estimate(toks) if len(rows) else np.empty(0, dtype=np.int64)
    out = spark.createDataFrame(
        [
            (int(t), int(r.exact_c), int(e))
            for t, r, e in zip(toks, rows, est)
        ],
        "tok long, exact_c long, cs_est long",
    )
    return out.orderBy("tok")


def q_count_sketch_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-shift detection via SIGNED sketch subtraction — the thing a
    one-sided CMS cannot do: sketch(even-doc tokens) minus sketch(odd-doc
    tokens) yields unbiased per-token frequency-DIFFERENCE estimates.
    Same collision-exact oracle machinery as count_sketch_tokens, over
    the difference table."""
    import numpy as np

    from .operators.sketch_build import build_sketch_distributed, value_column_update
    from .sketches.countsketch import CountSketch

    seq = _seq(spark, sf_dir)
    tok = seq.select(F.col("doc_id"), F.explode("tokens").alias("v"))
    update = value_column_update(tok, "v")
    mk = lambda: CountSketch(width=CS_W, depth=CS_D)
    cs_a, _ = build_sketch_distributed(
        tok.where(F.col("doc_id") % 2 == 0).select("v"), mk, update
    )
    cs_b, _ = build_sketch_distributed(
        tok.where(F.col("doc_id") % 2 == 1).select("v"), mk, update
    )
    diff = cs_a.subtract(cs_b)
    exact = tok.groupBy("v").agg(
        F.sum(
            F.when(F.col("doc_id") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
        ).cast("long").alias("exact_diff")
    )
    rows = exact.collect()  # vocab-bounded
    toks = np.array([r.v for r in rows], dtype=np.int64)
    est = diff.estimate(toks) if len(rows) else np.empty(0, dtype=np.int64)
    out = spark.createDataFrame(
        [(int(t), int(r.exact_diff), int(e)) for t, r, e in zip(toks, rows, est)],
        "tok long, exact_diff long, cs_diff_est long",
    )
    return out.orderBy("tok")


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact log2 histogram of document lengths per source
    (operators/histogram.value_histogram) — the distribution diagnostic
    next to the quantile sketches.  floor(log2(v)) is computed
    INTEGER-exactly as length(bin(v)) - 1 in both engines, so every
    power-of-two boundary agrees by construction; one map-side-combined
    aggregate, shuffle proportional to distinct (source, bucket) pairs."""
    from .operators.histogram import value_histogram

    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = value_histogram(docs, "n_chars", group_col="source", mode="log2")
    return out.select(
        "source", "bucket", "bucket_lo", "bucket_hi", "n_values"
    ).orderBy("source", "bucket")


PCTRANK_EPS = 0.03  # KLL k=256 rank bound, same budget as the KLL queries


def q_percentile_rank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row approximate within-group percentile annotation
    (operators/quantiles.percentile_rank): broadcast one KLL blob per
    event_type, map-only annotate — no window, no per-group sort of row
    data.  Each row's estimate is checked against the exact two-sided
    tie-aware rank interval; the oracle asserts every row passes."""
    from .operators.quantiles import percentile_rank

    ev = read_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = percentile_rank(ev, "value", "event_type", k=256)
    w = Window.partitionBy("event_type").orderBy("value")
    chk = (
        out.where(F.col("value").isNotNull())
        .withColumn("_n", F.count("*").over(Window.partitionBy("event_type")))
        .withColumn("_hi", F.cume_dist().over(w))
        .withColumn("_lo", (F.rank().over(w) - F.lit(1)) / F.col("_n"))
        .withColumn(
            "_ok",
            (F.col("pct_rank") >= F.col("_lo") - F.lit(PCTRANK_EPS))
            & (F.col("pct_rank") <= F.col("_hi") + F.lit(PCTRANK_EPS)),
        )
    )
    return (
        chk.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("_ok").cast("long")).alias("n_ok"),
        )
        .orderBy("event_type")
    )


def q_kmv_doc_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-set Jaccard similarity estimated from KMV sketches
    (Beyer et al. 2007: est_J = |bottom_k(A∪B) ∩ A_k ∩ B_k| / k_used),
    blocked to same-source pairs — all-pairs comparison without a blocking
    key is the anti-pattern the LSH operators exist to avoid.  Estimator
    outputs are integers (n_common, k_used) and the hash is SQL-exact, so
    the approximate values carry a full value-hash oracle next to the exact
    intersection/union companions."""
    from .operators.cardinality import kmv_jaccard_pairs, kmv_sketch_per_group

    k = KMV_JACCARD_K
    seq = _seq(spark, sf_dir)
    sk = (
        kmv_sketch_per_group(seq, "tokens", group_col="doc_id", k=k)
        .select(F.col("group").cast("long").alias("group"), "hashes")
        .join(seq.select(F.col("doc_id").alias("group"), "source"), "group")
    )
    pairs = kmv_jaccard_pairs(sk, k=k, same_block_col="source")
    dt = seq.select("doc_id", F.explode("tokens").alias("tok")).distinct()
    nd = dt.groupBy("doc_id").agg(F.count("*").alias("n"))
    docsrc = seq.select("doc_id", "source")
    e1 = dt.join(docsrc, "doc_id").select(
        F.col("doc_id").alias("d1"), "tok", "source"
    )
    e2 = dt.join(docsrc, "doc_id").select(
        F.col("doc_id").alias("d2"), "tok", "source"
    )
    inter = (
        e1.join(e2, ["tok", "source"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("exact_inter"))
    )
    return (
        pairs.withColumnRenamed("group_1", "d1")
        .withColumnRenamed("group_2", "d2")
        .join(inter, ["d1", "d2"], "left")
        .join(nd.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(nd.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select(
            "source",
            F.col("d1").alias("doc_1"),
            F.col("d2").alias("doc_2"),
            F.col("n_common").cast("long").alias("n_common"),
            F.col("k_used").cast("long").alias("k_used"),
            F.coalesce("exact_inter", F.lit(0)).alias("exact_inter"),
            (F.col("n1") + F.col("n2") - F.coalesce("exact_inter", F.lit(0))).alias(
                "exact_union"
            ),
        )
        .orderBy("source", "doc_1", "doc_2")
    )


FULLY_CAPPED_DF = 1  # at sf0.01, 24 docs have every shingle above this DF

BLOOM_FP_BITS = 4096
BLOOM_FP_HASHES = 3


def _bloom_pos(value_expr: str, row: int) -> str:
    """SQL for KmvBloom's r-th bit position at the audit's parameters."""
    from .sketches.bloom import kmv_bloom_pos_sql

    return kmv_bloom_pos_sql(value_expr, row, BLOOM_FP_BITS)


def q_dedup_fully_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactness guard for capped n-gram dedup
    (operators/dedup.fully_capped_docs): docs whose EVERY distinct shingle
    exceeds the document-frequency cap — the zero-pair blind spot of the
    capped inverted index, named doc by doc.  Exact recount in SQL: the
    same shingle/DF CTEs as dedup_ngram_jaccard, then an anti-join of
    shingled docs against docs with at least one under-cap shingle."""
    from .operators.dedup import fully_capped_docs

    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return fully_capped_docs(docs, n=3, max_shingle_df=FULLY_CAPPED_DF).orderBy(
        "doc_id"
    )


def q_bloom_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-exact audit of a probabilistic filter: build a KmvBloom over
    custkeys with c_custkey % 7 != 0, probe the DISJOINT % 7 == 0 set, and
    emit every probe's membership answer — every `true` is a false
    positive.  The bit positions are the SQL-portable kmv-permutation
    hashes (sketches/bloom.kmv_bloom_pos_sql), so DuckDB rebuilds the
    exact bit array and reproduces every individual false positive: the
    same exactness discipline as count_sketch_tokens, applied to
    membership.  n_bits=4096 over ~1.3k inserts puts the fill ratio near
    0.6, so the FP behavior is genuinely exercised, not vacuous."""
    from .operators.cardinality import bloom_fp_audit

    cust = read_table(spark, sf_dir, "customer")
    build = cust.filter("c_custkey % 7 != 0")
    probe = cust.filter("c_custkey % 7 = 0")
    return bloom_fp_audit(
        build,
        "c_custkey",
        probe,
        "c_custkey",
        n_bits=BLOOM_FP_BITS,
        n_hashes=BLOOM_FP_HASHES,
    ).orderBy("c_custkey")


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point Gram matrix of the embeddings table
    (operators/similarity.gram_matrix) — the d x d second-moment statistic
    behind PCA whitening and covariance diagnostics.  Per-row products are
    floored to 2^-20 fixed point BEFORE summing, so the totals are
    order-free integer sums, bit-identical under any partitioning and
    recomputed verbatim by the SQL oracle (float32 -> float64 widening and
    the double multiply are exact IEEE in both engines)."""
    from .operators.similarity import gram_matrix

    embs = read_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    return gram_matrix(embs, "embedding", fp_bits=20)


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc n-gram repetition score (text_analysis.repetition_score)
    — the degenerate-text gate, integer fixed point, map-only."""
    from .operators.text_analysis import repetition_score

    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return repetition_score(docs, n=3).orderBy("doc_id")


def q_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram contamination audit
    (text_analysis.ngram_contamination): the eval slice is the docs whose
    md5(doc_id) starts with '0' (~1/16, deterministic and recomputable in
    both engines); for each eval doc, how many of its distinct 3-grams
    appear anywhere in the train slice.  Exact SQL recount."""
    from .operators.text_analysis import ngram_contamination

    docs = read_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    return ngram_contamination(
        docs.filter(~is_eval), docs.filter(is_eval), n=3
    ).orderBy("doc_id")


WMH_K = 128
WMH_BOUND_X1000 = 200  # ~4.5 sigma at K=128 (se <= 0.0442)


def q_weighted_doc_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (bag) Jaccard near-dup scoring via ICWS weighted MinHash
    (operators/dedup.weighted_minhash_signatures, Ioffe 2010): per doc the
    weighted set is token -> occurrence count, pairs blocked to the same
    source (the kmv_doc_jaccard discipline — never all-pairs).  The gate
    row per pair carries the SQL-exact facts — sum min(counts),
    sum max(counts), and the integer weighted-Jaccard wj_x1000 — plus the
    estimator invariant |est - wj| <= 0.2 (4.5 sigma at K=128), checked
    for real against the signature match fraction."""
    from .operators.dedup import weighted_minhash_signatures

    seq = _seq(spark, sf_dir)
    bags = (
        seq.select("doc_id", "source", F.explode("tokens").alias("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(F.count("*").alias("c"))
    )
    docs2 = (
        bags.groupBy("doc_id", "source")
        .agg(F.sort_array(F.collect_list(F.struct("tok", "c"))).alias("ps"))
        .select(
            "doc_id",
            "source",
            F.transform("ps", lambda s: s.tok).alias("items"),
            F.transform("ps", lambda s: s.c.cast("double")).alias("weights"),
            F.aggregate(
                F.transform("ps", lambda s: s.c), F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("total"),
        )
    )
    sigs = weighted_minhash_signatures(
        docs2, items_col="items", weights_col="weights", num_hashes=WMH_K, seed=42
    )
    meta = docs2.select("doc_id", "source", "total").join(sigs, "doc_id")
    a = meta.alias("a")
    b = meta.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("d1"),
        F.col("b.doc_id").alias("d2"),
        F.col("a.total").alias("ta"),
        F.col("b.total").alias("tb"),
        F.aggregate(
            F.zip_with(
                "a.wsig",
                "b.wsig",
                lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("n_match"),
    )
    inter = (
        bags.alias("x")
        .join(
            bags.alias("y"),
            (F.col("x.source") == F.col("y.source"))
            & (F.col("x.tok") == F.col("y.tok"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2")
        )
        .agg(F.sum(F.least("x.c", "y.c")).alias("inter_min_sum"))
    )
    out = (
        pairs.join(inter, ["d1", "d2"], "left")
        .select(
            "d1",
            "d2",
            F.coalesce("inter_min_sum", F.lit(0)).alias("inter_min_sum"),
            (F.col("ta") + F.col("tb") - F.coalesce("inter_min_sum", F.lit(0))).alias(
                "union_max_sum"
            ),
            "n_match",
        )
        .select(
            "d1",
            "d2",
            "inter_min_sum",
            "union_max_sum",
            F.expr("(1000 * inter_min_sum) div union_max_sum").alias("wj_x1000"),
            (
                F.abs(
                    F.col("n_match") * 1000 / WMH_K
                    - (F.col("inter_min_sum") * 1000 / F.col("union_max_sum"))
                )
                <= WMH_BOUND_X1000
            ).alias("est_ok"),
        )
        .orderBy("d1", "d2")
    )
    return out


DGIM_WINDOW_H = 240


def q_events_stream_dgim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DGIM sliding-window counting (streaming/dgim.py), driven through a
    real availableNow stateful streaming run: per user, the bounded-state
    estimate of "events in the trailing 240 h of event time", checked
    against the exact windowed recount.  The estimate itself is bucket
    algebra no SQL can recompute, so the gate row per user carries the
    SQL-recomputable facts — the exact in-window count at the user's final
    asof — plus the two invariants the sketch guarantees: the published
    <= 50% relative error and the O(log^2 W) state bound (cms_cu_collision
    discipline).  asof equals the user's max event time because the
    per-batch asof is monotone and the final batch's row wins."""
    from .streaming.dgim import dgim_counts

    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        est = dgim_counts(
            _events_stream(spark, sf_dir),
            window=f"{DGIM_WINDOW_H} hours",
            watermark="720 hours",
        )
        name = _run_available_now(est, "ehs_dgim")
        emitted = spark.table(name)
        w = Window.partitionBy("user_id").orderBy(F.desc("asof"))
        last = (
            emitted.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1")
            .select("user_id", F.unix_millis("asof").alias("asof_ms"), "est", "n_buckets")
        )
        ev = read_table(spark, sf_dir, "events").select(
            "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms")
        )
        win_ms = DGIM_WINDOW_H * 3_600_000
        joined = (
            last.join(ev, "user_id")
            .filter((F.col("ts_ms") > F.col("asof_ms") - win_ms) & (F.col("ts_ms") <= F.col("asof_ms")))
            .groupBy("user_id")
            .agg(
                F.count("*").alias("exact_in_window"),
                F.first("est").alias("est"),
                F.first("n_buckets").alias("n_buckets"),
            )
        )
        out = joined.select(
            "user_id",
            "exact_in_window",
            (
                F.abs(F.col("est") - F.col("exact_in_window"))
                <= F.col("exact_in_window") / 2 + 1
            ).alias("within_bound"),
            (F.col("n_buckets") <= 32).alias("state_bounded"),
        ).orderBy("user_id")
        rows = out.collect()
        spark.catalog.dropTempView(name)
    finally:
        spark.conf.set(tz_key, old_tz)
    return spark.createDataFrame(rows, schema=out.schema)


def q_embedding_gram_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label fixed-point Gram matrices (gram_matrix(group_col=...)) —
    within-class second moments, the LDA-style covariance diagnostic.
    Same order-free integer-sum exactness as embedding_gram, one matrix
    per label (10 labels x 2,080 entries at sf0.01)."""
    from .operators.similarity import gram_matrix

    embs = read_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    out = gram_matrix(embs, "embedding", fp_bits=20, group_col="label")
    return out.select(
        F.col("label").cast("int").alias("label"), "d1", "d2", "gram_fp"
    ).orderBy("label", "d1", "d2")


FD_L = 16


def q_embedding_fd_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent Directions over the embeddings table (sketches/fd.py,
    operators/similarity.fd_sketch): the l x d matrix sketch with the
    deterministic covariance guarantee ||A^T A - B^T B||_2 <= ||A||_F^2/l.
    The invariant is CHECKED FOR REAL Spark-side: the exact Gram matrix
    comes from the fixed-point gram_matrix operator (2080 integer-exact
    entries), the spectral norm of the residual from a 64x64 eigh, and
    within_bound must come out true through the distributed build + blob
    merge.  The oracle recomputes the SQL-expressible facts — row count
    and the fixed-point trace (total second-moment mass) — and pins the
    invariant columns, the same discipline as cms_cu_collision."""
    import numpy as np

    from .operators.similarity import fd_sketch, gram_matrix

    embs = read_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    fd = fd_sketch(embs, "embedding", l=FD_L)
    gram = gram_matrix(embs, "embedding", fp_bits=20).collect()
    d = max(r.d2 for r in gram)
    G = np.zeros((d, d))
    for r in gram:
        G[r.d1 - 1, r.d2 - 1] = G[r.d2 - 1, r.d1 - 1] = r.gram_fp / (1 << 20)
    B = fd.B
    resid = G - B.T @ B
    err = float(np.abs(np.linalg.eigvalsh(resid)).max())
    # fixed-point G is within n_rows*2^-20 per entry of exact; fold that
    # slack into the check rather than pretending G is exact
    slack = fd.n_rows * d / (1 << 20)
    trace_fp = int(sum(r.gram_fp for r in gram if r.d1 == r.d2))
    within = bool(err <= fd.fro2 / FD_L + slack)
    return spark.createDataFrame(
        [(FD_L, fd.n_rows, trace_fp, within)],
        schema="l: int, n_rows: long, trace_fp: long, within_bound: boolean",
    )


QUERIES = {
    "motifs_k2": q_motifs_k2,
    "motifs_k2_summary": q_motifs_k2_summary,
    "motifs_k3_summary": q_motifs_k3_summary,
    "motifs_k4_summary": q_motifs_k4_summary,
    "motifs_k5_summary": q_motifs_k5_summary,
    "conv_motifs_k2": q_conv_motifs_k2,
    "conv_motifs_k3_summary": q_conv_motifs_k3_summary,
    "heavy_tokens": q_heavy_tokens,
    "ntok_stats": q_ntok_stats,
    "motifs_k2_conservative": q_motifs_k2_conservative,
    "cms_cu_collision": q_cms_cu_collision,
    "motifs_k2_checkpointed": q_motifs_k2_checkpointed,
    "motifs_k2_weighted": q_motifs_k2_weighted,
    "events_hourly": q_events_hourly,
    "events_user_stats": q_events_user_stats,
    "events_sessionized": q_events_sessionized,
    "events_hourly_stream": q_events_hourly_stream,
    "events_sliding_stream": q_events_sliding_stream,
    "events_stream_dedup": q_events_stream_dedup,
    "events_stream_join": q_events_stream_join,
    "events_stream_dgim": q_events_stream_dgim,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_fully_capped": q_dedup_fully_capped,
    "weighted_doc_jaccard": q_weighted_doc_jaccard,
    "bloom_fp_audit": q_bloom_fp_audit,
    "embedding_gram": q_embedding_gram,
    "embedding_gram_by_label": q_embedding_gram_by_label,
    "embedding_fd_bound": q_embedding_fd_bound,
    "embedding_dedup_clusters": q_embedding_dedup_clusters,
    "doc_chunks": q_doc_chunks,
    "stable_split": q_stable_split,
    "token_stats": q_token_stats,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_repetition": q_doc_repetition,
    "eval_contamination": q_eval_contamination,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_cosine_topk_ivf": q_ann_cosine_topk_ivf,
    "embedding_neardup_lsh": q_embedding_neardup_lsh,
    "distinct_tokens_per_source": q_distinct_tokens_per_source,
    "hll_tokens_per_source": q_hll_tokens_per_source,
    "kll_ntok_quantiles": q_kll_ntok_quantiles,
    "tdigest_event_value": q_tdigest_event_value,
    "tdigest_value_per_type": q_tdigest_value_per_type,
    "bloom_semijoin": q_bloom_semijoin,
    "cms_frequency_gate": q_cms_frequency_gate,
    "topk_event_types_per_user": q_topk_event_types_per_user,
    "topk_heavy_users": q_topk_heavy_users,
    "kmv_distinct_custkeys": q_kmv_distinct_custkeys,
    "kmv_doc_jaccard": q_kmv_doc_jaccard,
    "topk_distinct_sources": q_topk_distinct_sources,
    "kmv_source_set_ops": q_kmv_source_set_ops,
    "ams_f2_tokens": q_ams_f2_tokens,
    "ams_join_size": q_ams_join_size,
    "count_sketch_tokens": q_count_sketch_tokens,
    "count_sketch_shift": q_count_sketch_shift,
    "doc_length_histogram": q_doc_length_histogram,
    "percentile_rank_events": q_percentile_rank_events,
    "events_asof_join": q_events_asof_join,
    "bm25_doc_scores": q_bm25_doc_scores,
    "kll_ntok_per_source": q_kll_ntok_per_source,
    "weighted_sample_docs": q_weighted_sample_docs,
    "weighted_sample_global": q_weighted_sample_global,
    "motif_pmi_k2": q_motif_pmi_k2,
    "bigram_logprob_docs": q_bigram_logprob_docs,
    "trigram_logprob_docs": q_trigram_logprob_docs,
    "kn_bigram_logprob_docs": q_kn_bigram_logprob_docs,
    "events_stream_hll": q_events_stream_hll,
    "token_entropy_per_source": q_token_entropy_per_source,
    "token_kl_per_source": q_token_kl_per_source,
}

# ------------------------------------------------------------------- oracles

ORACLES = {
    "motifs_k2": f"""
WITH {_TOK_CTE},
pairs AS (
  SELECT a.doc_id, a.tok AS m1, b.tok AS m2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.idx < b.idx
),
cnt AS (SELECT m1, m2, count(*) AS c FROM pairs GROUP BY m1, m2)
SELECT p.m1, p.m2, p.doc_id,
       CAST(2.0 AS DOUBLE) AS contribution,
       c.c AS count
FROM pairs p JOIN cnt c USING (m1, m2)
WHERE c.c >= {K2_MIN}
""",
    "motifs_k2_summary": f"""
WITH {_TOK_CTE},
pairs AS (
  SELECT a.doc_id, a.tok AS m1, b.tok AS m2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.idx < b.idx
),
cnt AS (
  SELECT m1, m2, count(*) AS c, count(*) AS n_occ
  FROM pairs GROUP BY m1, m2
)
SELECT m1, m2, c AS count, n_occ AS n_occurrences,
       CAST(2.0 * n_occ AS DOUBLE) AS total_contribution
FROM cnt WHERE c >= {K2_MIN}
""",
    "motifs_k3_summary": f"""
WITH {_TOK_CTE},
trips AS (
  SELECT a.doc_id, a.tok AS m1, b.tok AS m2, c.tok AS m3
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND a.idx < b.idx
  JOIN toks c ON b.doc_id = c.doc_id AND b.idx < c.idx
),
cnt AS (SELECT m1, m2, m3, count(*) AS c FROM trips GROUP BY m1, m2, m3)
SELECT m1, m2, m3, c AS count, c AS n_occurrences,
       CAST(3.0 * c AS DOUBLE) AS total_contribution
FROM cnt WHERE c >= {K3_MIN}
""",
    "motifs_k4_summary": f"""
WITH {_TOK_CTE},
quads AS (
  SELECT a.doc_id, a.tok AS m1, b.tok AS m2, c.tok AS m3, d.tok AS m4
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND a.idx < b.idx
  JOIN toks c ON b.doc_id = c.doc_id AND b.idx < c.idx
  JOIN toks d ON c.doc_id = d.doc_id AND c.idx < d.idx
),
cnt AS (SELECT m1, m2, m3, m4, count(*) AS c FROM quads GROUP BY m1, m2, m3, m4)
SELECT m1, m2, m3, m4, c AS count, c AS n_occurrences,
       CAST(4.0 * c AS DOUBLE) AS total_contribution
FROM cnt WHERE c >= {K4_MIN}
""",
    # k=5 tier: words restricted to short docs (mirrors the pushed
    # n_tok <= K5_MAX_NTOK scan filter), vocab still corpus-wide so token
    # ids agree with the Spark tokenizer
    "motifs_k5_summary": f"""
WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents
    WHERE len(list_filter(string_split(text, ' '), x -> x != '')) <= {K5_MAX_NTOK}
  ) WHERE w != ''
),
vocab AS (
  SELECT w, CAST(row_number() OVER (ORDER BY w) AS INT) AS tok
  FROM (
    SELECT DISTINCT w FROM (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w != ''
  )
),
toks AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY tok) AS idx
  FROM words JOIN vocab USING (w)
),
quints AS (
  SELECT a.tok AS m1, b.tok AS m2, c.tok AS m3, d.tok AS m4, e.tok AS m5
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND a.idx < b.idx
  JOIN toks c ON b.doc_id = c.doc_id AND b.idx < c.idx
  JOIN toks d ON c.doc_id = d.doc_id AND c.idx < d.idx
  JOIN toks e ON d.doc_id = e.doc_id AND d.idx < e.idx
),
cnt AS (SELECT m1, m2, m3, m4, m5, count(*) AS c FROM quints GROUP BY ALL)
SELECT m1, m2, m3, m4, m5, c AS count, c AS n_occurrences,
       CAST(5.0 * c AS DOUBLE) AS total_contribution
FROM cnt WHERE c >= {K5_MIN}
""",
    "conv_motifs_k2": f"""
WITH {_POS_CTE},
pairs AS (
  SELECT a.doc_id, a.tok AS m1, b.tok AS m2,
         CAST(b.pos - a.pos - {CONV_FILTER_LEN} AS INT) AS d12,
         CAST(a.pos AS INT) AS start,
         CAST(b.pos + {CONV_FILTER_LEN} - 1 AS INT) AS "end"
  FROM ptoks a JOIN ptoks b
    ON a.doc_id = b.doc_id AND a.pos < b.pos
  WHERE b.pos - a.pos - {CONV_FILTER_LEN} >= 0
),
cnt AS (SELECT m1, m2, d12, count(*) AS c FROM pairs GROUP BY m1, m2, d12)
SELECT p.m1, p.m2, p.d12, p.start, p."end", p.doc_id,
       CAST(2.0 AS DOUBLE) AS contribution, c.c AS count
FROM pairs p JOIN cnt c USING (m1, m2, d12)
WHERE c.c >= {CONV_MIN}
""",
    "conv_motifs_k3_summary": f"""
WITH {_POS_CTE},
trips AS (
  SELECT a.tok AS m1, b.tok AS m2, c.tok AS m3,
         CAST(b.pos - a.pos - {CONV_FILTER_LEN} AS INT) AS d12,
         CAST(c.pos - b.pos - {CONV_FILTER_LEN} AS INT) AS d23
  FROM ptoks a
  JOIN ptoks b ON a.doc_id = b.doc_id AND a.pos < b.pos
  JOIN ptoks c ON b.doc_id = c.doc_id AND b.pos < c.pos
  WHERE b.pos - a.pos - {CONV_FILTER_LEN} >= 0
    AND c.pos - b.pos - {CONV_FILTER_LEN} >= 0
),
cnt AS (SELECT m1, m2, m3, d12, d23, count(*) AS c FROM trips GROUP BY ALL)
SELECT m1, m2, m3, d12, d23, c AS count, c AS n_occurrences,
       CAST(3.0 * c AS DOUBLE) AS total_contribution
FROM cnt WHERE c >= {CONV3_MIN}
""",
    "heavy_tokens": f"""
WITH {_TOK_CTE},
cnt AS (SELECT tok AS m1, count(*) AS c FROM toks GROUP BY tok)
SELECT m1, c AS count, c AS n_occurrences
FROM cnt WHERE c >= {HEAVY_MIN}
ORDER BY m1
""",
    "motifs_k2_checkpointed": f"""
WITH {_TOK_CTE},
pairs AS (
  SELECT a.doc_id, a.tok AS m1, b.tok AS m2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.idx < b.idx
),
cnt AS (
  SELECT m1, m2, count(*) AS c, count(*) AS n_occ
  FROM pairs GROUP BY m1, m2
)
SELECT m1, m2, c AS count, n_occ AS n_occurrences,
       CAST(2.0 * n_occ AS DOUBLE) AS total_contribution
FROM cnt WHERE c >= {K2_MIN}
""",
    "motifs_k2_weighted": f"""
WITH {_TOK_CTE},
wt AS (SELECT doc_id, tok, idx, 1.0 + (tok % 3) AS w FROM toks),
pairs AS (
  SELECT a.doc_id, a.tok AS m1, b.tok AS m2, a.w + b.w AS cw
  FROM wt a JOIN wt b ON a.doc_id = b.doc_id AND a.idx < b.idx
),
cnt AS (
  SELECT m1, m2, count(*) AS c,
         CAST(SUM(cw) AS BIGINT) AS tc
  FROM pairs GROUP BY m1, m2
)
SELECT m1, m2, c AS count, c AS n_occurrences, tc AS total_contribution
FROM cnt WHERE c >= {K2_MIN}
""",
    "motifs_k2_conservative": f"""
WITH {_TOK_CTE},
pairs AS (
  SELECT a.doc_id, a.tok AS m1, b.tok AS m2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.idx < b.idx
),
cnt AS (SELECT m1, m2, count(*) AS c FROM pairs GROUP BY m1, m2)
SELECT m1, m2, c AS count, c AS n_occurrences,
       CAST(2.0 * c AS DOUBLE) AS total_contribution
FROM cnt WHERE c >= {K2_MIN}
""",
    # invariant oracle: the zero-violation counters and the strict-tightening
    # flag are CU's defining properties (never undercount; never exceed the
    # plain estimate; strictly tighter somewhere once collisions saturate a
    # width-55 table) — deterministic for the fixed seed.  n_keys is the
    # exact distinct-key count, recomputed here.
    "cms_cu_collision": f"""
WITH {_TOK_CTE},
pairs AS (
  SELECT DISTINCT a.tok AS m1, b.tok AS m2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.idx < b.idx
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(0 AS BIGINT) AS n_cu_below_true,
       CAST(0 AS BIGINT) AS n_cu_above_plain,
       TRUE AS cu_strictly_tighter
FROM pairs
""",
    "events_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
    "events_user_stats": """
SELECT user_id, count(*) AS n_events,
       count(DISTINCT event_type) AS n_types,
       CAST(ROUND(sum(value) * 100, 0) AS BIGINT) AS total_value_x100
FROM events GROUP BY user_id ORDER BY user_id
""",
    # append-mode watermarked window agg: a window is emitted once its end
    # falls at-or-under the final watermark (max event time - 2h); newer
    # windows are still open at end-of-stream and never emitted.
    "events_hourly_stream": f"""
WITH e AS (
  SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
         epoch_ms(date_trunc('hour', ts)) + 3600000 AS window_end_ms,
         event_type
  FROM events
),
cut AS (SELECT max(epoch_ms(ts)) - {HOURLY_WATERMARK_MS} AS wm FROM events)
SELECT window_start_ms, window_end_ms, event_type, count(*) AS n_events
FROM e, cut
WHERE window_end_ms <= wm
GROUP BY window_start_ms, window_end_ms, event_type
ORDER BY window_start_ms, event_type
""",
    # sliding 2h/1h windows: each event expands into its two covering
    # windows; same finalized-window cutoff as the tumbling oracle
    "events_sliding_stream": f"""
WITH starts AS (
  SELECT epoch_ms(date_trunc('hour', ts)) - offs AS window_start_ms,
         event_type
  FROM events, (SELECT unnest([0, 3600000]) AS offs)
),
e AS (
  SELECT window_start_ms, window_start_ms + 7200000 AS window_end_ms, event_type
  FROM starts
),
cut AS (SELECT max(epoch_ms(ts)) - {HOURLY_WATERMARK_MS} AS wm FROM events)
SELECT window_start_ms, window_end_ms, event_type, count(*) AS n_events
FROM e, cut
WHERE window_end_ms <= wm
GROUP BY window_start_ms, window_end_ms, event_type
ORDER BY window_start_ms, event_type
""",
    # streaming dedup of a doubled stream == the distinct events
    "events_stream_dedup": """
SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
       CAST(round(value * 100, 0) AS BIGINT) AS value_x100
FROM events ORDER BY event_id
""",
    # gap sessionization: lag + cumulative-sum session ids at the operator's
    # ms granularity; each user's LAST session is never gap-closed by a
    # later event, so the streaming query never emits it — drop it here too.
    # stream-stream interval join == the batch interval join: watermarks
    # bound state, they drop nothing for in-watermark data
    "events_stream_join": """
SELECT v.user_id,
       v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       epoch_ms(v.ts) AS view_ms,
       epoch_ms(p.ts) AS purchase_ms,
       CAST(ROUND(p.value * 100, 0) AS BIGINT) AS purchase_value_x100
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY view_event_id, purchase_event_id
""",
    "events_sessionized": """
WITH e AS (SELECT user_id, epoch_ms(ts) AS tms, value FROM events),
l AS (
  SELECT user_id, tms, value,
         CASE WHEN lag(tms) OVER (PARTITION BY user_id ORDER BY tms) IS NULL
                OR tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
                   > 21600000
              THEN 1 ELSE 0 END AS new_sess
  FROM e
),
s AS (
  SELECT user_id, tms, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tms
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM l
),
a AS (
  SELECT user_id, sid, min(tms) AS session_start_ms, max(tms) AS session_end_ms,
         count(*) AS n_events,
         CAST(ROUND(sum(value) * 100, 0) AS BIGINT) AS total_value_x100
  FROM s GROUP BY user_id, sid
)
SELECT user_id, session_start_ms, session_end_ms, n_events, total_value_x100
FROM a
WHERE sid < (SELECT max(sid) FROM a b WHERE b.user_id = a.user_id)
ORDER BY user_id, session_start_ms
""",
    "dedup_exact": """
WITH h AS (SELECT doc_id, md5(text) AS hh FROM documents),
g AS (SELECT hh, min(doc_id) AS keep_doc_id, count(*) AS group_size FROM h GROUP BY hh)
SELECT h.doc_id, g.keep_doc_id, g.group_size FROM h JOIN g USING (hh)
""",
    "dedup_fully_capped": f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 1),
                                 i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
    FROM ws WHERE len(w) >= 3)
),
df AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
cold_docs AS (
  SELECT DISTINCT doc_id FROM sh JOIN df USING (s) WHERE c <= {FULLY_CAPPED_DF}
)
SELECT doc_id, count(*) AS n_shingles
FROM sh
WHERE doc_id NOT IN (SELECT doc_id FROM cold_docs)
GROUP BY doc_id
ORDER BY doc_id
""",
    "bloom_fp_audit": f"""
WITH ins AS (SELECT DISTINCT c_custkey AS v FROM customer WHERE c_custkey % 7 != 0),
probe AS (SELECT DISTINCT c_custkey AS v FROM customer WHERE c_custkey % 7 = 0),
bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos('v', r)} AS pos FROM ins" for r in range(BLOOM_FP_HASHES))}
  )
),
probe_bits AS (
  {" UNION ALL ".join(f"SELECT v, {_bloom_pos('v', r)} AS pos FROM probe" for r in range(BLOOM_FP_HASHES))}
)
SELECT v AS c_custkey,
       bool_and(pos IN (SELECT pos FROM bits)) AS in_bloom
FROM probe_bits
GROUP BY v
ORDER BY c_custkey
""",
    "embedding_gram": """
WITH pr AS (
  SELECT i, j,
         CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(embedding[CAST(j AS INT)] AS DOUBLE)
                    * 1048576.0) AS BIGINT) AS val
  FROM embeddings, range(1, 65) a(i), range(1, 65) b(j)
  WHERE i <= j
)
SELECT CAST(i AS INT) AS d1, CAST(j AS INT) AS d2,
       CAST(SUM(val) AS BIGINT) AS gram_fp
FROM pr GROUP BY i, j ORDER BY d1, d2
""",
    "weighted_doc_jaccard": f"""
WITH {_TOK_CTE},
src AS (SELECT doc_id, source FROM documents),
bags AS (
  SELECT t.doc_id, s.source, t.tok, count(*) AS c
  FROM toks t JOIN src s USING (doc_id)
  GROUP BY t.doc_id, s.source, t.tok
),
totals AS (SELECT doc_id, source, sum(c) AS total FROM bags GROUP BY doc_id, source),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, a.total AS ta, b.total AS tb
  FROM totals a JOIN totals b ON a.source = b.source AND a.doc_id < b.doc_id
),
inter AS (
  SELECT x.doc_id AS d1, y.doc_id AS d2,
         sum(least(x.c, y.c)) AS inter_min_sum
  FROM bags x JOIN bags y
    ON x.source = y.source AND x.tok = y.tok AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT p.d1, p.d2,
       CAST(coalesce(i.inter_min_sum, 0) AS BIGINT) AS inter_min_sum,
       CAST(p.ta + p.tb - coalesce(i.inter_min_sum, 0) AS BIGINT) AS union_max_sum,
       CAST((1000 * coalesce(i.inter_min_sum, 0))
            // (p.ta + p.tb - coalesce(i.inter_min_sum, 0)) AS BIGINT) AS wj_x1000,
       true AS est_ok
FROM pairs p LEFT JOIN inter i USING (d1, d2)
ORDER BY p.d1, p.d2
""",
    "doc_repetition": """
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
  FROM ws WHERE len(w) >= 3
),
agg AS (
  SELECT doc_id, count(*) AS n_ngrams, count(DISTINCT s) AS n_distinct
  FROM sh GROUP BY doc_id
)
SELECT doc_id, n_ngrams, n_distinct,
       CAST(FLOOR(1000.0 * (n_ngrams - n_distinct) / n_ngrams) AS BIGINT) AS rep_x1000
FROM agg WHERE n_ngrams >= 1 ORDER BY doc_id
""",
    "eval_contamination": """
WITH ws AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                   string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id, h,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
  FROM ws WHERE len(w) >= 3
),
train AS (SELECT DISTINCT s FROM sh WHERE substr(h, 1, 1) != '0'),
ev AS (SELECT DISTINCT doc_id, s FROM sh WHERE substr(h, 1, 1) = '0'),
agg AS (
  SELECT e.doc_id, count(*) AS n_distinct_ngrams,
         count(t.s) AS n_contaminated
  FROM ev e LEFT JOIN train t ON e.s = t.s
  GROUP BY e.doc_id
)
SELECT doc_id, n_distinct_ngrams, n_contaminated,
       CAST(FLOOR(1000.0 * n_contaminated / n_distinct_ngrams) AS BIGINT)
         AS contamination_x1000
FROM agg ORDER BY doc_id
""",
    "events_stream_dgim": f"""
WITH mx AS (
  SELECT user_id, max(epoch_ms(CAST(ts AS TIMESTAMP))) AS asof_ms
  FROM events GROUP BY user_id
)
SELECT e.user_id,
       count(*) AS exact_in_window,
       true AS within_bound,
       true AS state_bounded
FROM events e JOIN mx USING (user_id)
WHERE epoch_ms(CAST(e.ts AS TIMESTAMP)) > asof_ms - {DGIM_WINDOW_H} * 3600000
  AND epoch_ms(CAST(e.ts AS TIMESTAMP)) <= asof_ms
GROUP BY e.user_id
ORDER BY e.user_id
""",
    "embedding_gram_by_label": """
WITH pr AS (
  SELECT label, i, j,
         CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(embedding[CAST(j AS INT)] AS DOUBLE)
                    * 1048576.0) AS BIGINT) AS val
  FROM embeddings, range(1, 65) a(i), range(1, 65) b(j)
  WHERE i <= j
)
SELECT CAST(label AS INT) AS label, CAST(i AS INT) AS d1, CAST(j AS INT) AS d2,
       CAST(SUM(val) AS BIGINT) AS gram_fp
FROM pr GROUP BY label, i, j ORDER BY label, d1, d2
""",
    "embedding_fd_bound": f"""
WITH pr AS (
  SELECT i,
         CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                    * 1048576.0) AS BIGINT) AS val
  FROM embeddings, range(1, 65) a(i)
)
SELECT CAST({FD_L} AS INT) AS l,
       (SELECT count(*) FROM embeddings) AS n_rows,
       CAST(SUM(val) AS BIGINT) AS trace_fp,
       true AS within_bound
FROM pr
""",
    "dedup_ngram_jaccard": f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 1),
                                 i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
    FROM ws WHERE len(w) >= 3)
),
-- mirror of the engine's stop-shingle cap: candidate pairs must share at
-- least one shingle with document frequency <= {SHINGLE_DF_CAP}
hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > {SHINGLE_DF_CAP}),
idx AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, c.n_common, sa.n AS n_a, sb.n AS n_b,
       CAST(FLOOR(100.0 * c.n_common / (sa.n + sb.n - c.n_common)) AS BIGINT) AS jaccard_pct
FROM common c
JOIN cand USING (doc_a, doc_b)
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE FLOOR(100.0 * c.n_common / (sa.n + sb.n - c.n_common)) >= {int(JACCARD_T * 100)}
""",
    # transitive closure via recursive CTE: reach(v, c) = vertex c is
    # reachable from v over the (undirected) near-dup pair graph; the
    # component label is min(reachable), exactly what the engine's
    # pointer-jumping min-label propagation converges to.
    "dedup_clusters": f"""
WITH RECURSIVE
ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 1),
                                 i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
    FROM ws WHERE len(w) >= 3)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM common c
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id
  WHERE FLOOR(100.0 * c.n_common / (sa.n + sb.n - c.n_common))
        >= {int(JACCARD_T * 100)}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(v, c) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.v, e.v FROM reach r JOIN edges e ON r.c = e.u
),
comp AS (SELECT v AS doc_id, min(c) AS cluster_id FROM reach GROUP BY v),
lab AS (
  SELECT d.doc_id, COALESCE(comp.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp USING (doc_id)
),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT lab.doc_id, lab.cluster_id, sz.cluster_size,
       lab.doc_id = lab.cluster_id AS is_keeper
FROM lab JOIN sz USING (cluster_id)
ORDER BY lab.doc_id
""",
    # same transitive-closure shape as dedup_clusters, over the exact
    # cosine pair set (list_cosine_similarity verified bit-identical to the
    # Spark aggregate cosine on this data; no pair within 1e-9 of 0.4)
    "embedding_dedup_clusters": """
WITH RECURSIVE
pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        >= 0.4
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(v, c) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.v, e.v FROM reach r JOIN edges e ON r.c = e.u
),
comp AS (SELECT v AS vec_id, min(c) AS cluster_id FROM reach GROUP BY v),
lab AS (
  SELECT emb.vec_id, COALESCE(comp.cluster_id, emb.vec_id) AS cluster_id
  FROM embeddings emb LEFT JOIN comp USING (vec_id)
),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT lab.vec_id, lab.cluster_id, sz.cluster_size,
       lab.vec_id = lab.cluster_id AS is_keeper
FROM lab JOIN sz USING (cluster_id)
ORDER BY lab.vec_id
""",
    # identical window layout via 1-based inclusive list slicing:
    # chunk i covers words [i*stride+1, min(i*stride+max, n)]
    "doc_chunks": f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
meta AS (
  SELECT doc_id, w, len(w) AS n,
         CASE WHEN len(w) <= {CHUNK_MAX_WORDS} THEN 1
              ELSE 1 + CAST(CEIL((len(w) - {CHUNK_MAX_WORDS})
                                 / {CHUNK_MAX_WORDS - CHUNK_OVERLAP}.0) AS INT)
         END AS n_chunks
  FROM ws),
c AS (SELECT doc_id, w, n, unnest(range(n_chunks)) AS chunk_id FROM meta)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       array_to_string(
         w[chunk_id * {CHUNK_MAX_WORDS - CHUNK_OVERLAP} + 1 :
           least(chunk_id * {CHUNK_MAX_WORDS - CHUNK_OVERLAP}
                 + {CHUNK_MAX_WORDS}, n)], ' ') AS chunk_text,
       CAST(least({CHUNK_MAX_WORDS},
                  n - chunk_id * {CHUNK_MAX_WORDS - CHUNK_OVERLAP}) AS INT)
         AS n_words
FROM c ORDER BY doc_id, chunk_id
""",
    # xxhash64 is not reproducible in DuckDB -> invariant oracle: exact
    # total, zero unassigned, realized fractions inside binomial bounds,
    # zero rows moved by repartitioning (content-hash determinism)
    "stable_split": """
SELECT count(*) AS n_total, CAST(0 AS BIGINT) AS n_unassigned,
       TRUE AS fractions_in_bounds, CAST(0 AS BIGINT) AS n_partition_moved
FROM documents
""",
    "token_stats": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       CAST(length(text) AS INT) AS n_chars,
       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_words,
       CAST(FLOOR(100.0 * (length(text) - len(string_split(text, ' ')) + 1)
                  / len(string_split(text, ' '))) AS BIGINT) AS avg_word_len_x100
FROM documents
""",
    "quality_score": """
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
q AS (
  SELECT doc_id,
         CAST(len(w) AS INT) AS n_words,
         CAST(len(list_filter(w, x -> list_contains(
             ['the','and','of','to','a','in','is','it','that','for'], x))) AS INT) AS n_stopwords,
         CAST(len(list_distinct(w)) AS INT) AS n_distinct
  FROM ws
)
SELECT doc_id, n_words, n_stopwords,
       CAST(FLOOR(1000.0 * n_stopwords / n_words) AS BIGINT) AS stop_ratio_x1000,
       CAST(FLOOR(1000.0 * n_distinct / n_words) AS BIGINT) AS ttr_x1000,
       CASE WHEN n_words < 20 THEN 'short'
            WHEN n_words < 60 THEN 'medium'
            ELSE 'long' END AS length_bucket
FROM q
""",
    "lang_id": """
WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
s AS (
  SELECT doc_id,
    CAST(len(list_filter(w, x -> list_contains(['der','die','und','das','ist','ein','nicht','mit','zu','ich'], x))) AS INT) AS score_de,
    CAST(len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x))) AS INT) AS score_en,
    CAST(len(list_filter(w, x -> list_contains(['el','la','de','que','y','en','un','es','se','no'], x))) AS INT) AS score_es,
    CAST(len(list_filter(w, x -> list_contains(['le','la','de','et','un','est','que','pour','dans','ce'], x))) AS INT) AS score_fr,
    CAST(len(list_filter(w, x -> list_contains(['的','是','了','在','我','有','和','就','不','人'], x))) AS INT) AS score_zh
  FROM ws
)
SELECT doc_id, score_en, score_de, score_es, score_fr, score_zh,
  CASE
    WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
    WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
    WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
    WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
    WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
    ELSE 'zh' END AS predicted_lang
FROM s
""",
    "doc_fingerprint": """
SELECT doc_id,
       md5(text) AS fp_md5,
       md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fp_sorted_md5
FROM documents
""",
    "ann_cosine_topk": """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
  FROM q, embeddings e
  WHERE e.vec_id != q.qid
),
rk AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
  FROM scored
)
SELECT qid, nid, CAST(FLOOR(1000000 * cos) AS BIGINT) AS cos_pct
FROM rk WHERE rn <= 10
""",
    "distinct_tokens_per_source": """
WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
SELECT source, count(DISTINCT tok) AS n_distinct -- '' never occurs in this corpus; engine filters it from tokens
FROM w GROUP BY source ORDER BY source
""",
    "bloom_semijoin": """
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
""",
    "cms_frequency_gate": """
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey IN (
  SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) >= 20
)
""",
    # Bound-check oracles: the Spark side does the real verification work
    # (estimate vs exact companion / subset vs brute force); the oracle pins
    # the exact companion values plus the invariant that MUST hold.
    "hll_tokens_per_source": """
WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
SELECT source, count(DISTINCT tok) AS n_exact, TRUE AS within_3rsd
FROM w WHERE tok != '' GROUP BY source ORDER BY source
""",
    "kll_ntok_quantiles": """
SELECT * FROM (VALUES (0.1, TRUE), (0.5, TRUE), (0.9, TRUE), (0.99, TRUE))
  AS t(q, rank_error_ok)
""",
    "kll_ntok_per_source": """
WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
qv AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES (0.1), (0.5), (0.9)) AS t(q))
SELECT source, q, n_docs, TRUE AS rank_error_ok
FROM n CROSS JOIN qv ORDER BY source, q
""",
    "tdigest_event_value": """
SELECT * FROM (VALUES (0.01, TRUE), (0.5, TRUE), (0.99, TRUE))
  AS t(q, rank_error_ok)
""",
    "tdigest_value_per_type": """
WITH n AS (
  SELECT event_type, count(value) AS n_events FROM events GROUP BY event_type
),
qv AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES (0.01), (0.5), (0.99)) AS t(q))
SELECT event_type, q, n_events, TRUE AS rank_error_ok
FROM n CROSS JOIN qv ORDER BY event_type, q
""",
    "dedup_minhash_lsh": """
SELECT CAST(0 AS BIGINT) AS n_lsh_pairs_not_in_exact, TRUE AS found_any
""",
    "dedup_simhash": """
SELECT CAST(0 AS BIGINT) AS n_hamming_violations,
       CAST(0 AS BIGINT) AS n_missed_close_pairs
""",
    "ann_cosine_topk_ivf": """
SELECT CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_results,
       TRUE AS mean_recall_ge_60
""",
    "embedding_neardup_lsh": """
SELECT CAST(0 AS BIGINT) AS n_false_pairs, TRUE AS found_any
""",
    # exact-parity regime: n_counters >> 5 distinct event types, so the
    # Misra-Gries summary never truncates and est_count == exact count —
    # a full value-hash oracle (ties broken by event_type asc on both sides)
    "topk_event_types_per_user": """
WITH cnt AS (
  SELECT user_id, event_type, count(*) AS est_count
  FROM events GROUP BY user_id, event_type
),
rk AS (
  SELECT user_id, event_type, est_count,
         row_number() OVER (
           PARTITION BY user_id ORDER BY est_count DESC, event_type ASC
         ) AS r
  FROM cnt
)
SELECT user_id, event_type, est_count, CAST(0 AS BIGINT) AS err_bound
FROM rk WHERE r <= 3
ORDER BY user_id, est_count DESC, event_type
""",
    # truncation regime: invariant booleans (never-overcount, error bound,
    # heavy completeness, approximation engaged) pinned TRUE; the counts are
    # exact recomputations.  n_out = least(k, summary size) = k here because
    # the 19 guaranteed-present heavy users already exceed k = 10.
    "topk_heavy_users": f"""
WITH cnt AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
tot AS (SELECT count(*) AS n FROM events)
SELECT (SELECT n FROM tot) AS n_values,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN c * {TOPK_M + 1} > (SELECT n FROM tot)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
       CAST(least(10, count(*)) AS BIGINT) AS n_out,
       TRUE AS underest_ok, TRUE AS bound_ok,
       TRUE AS heavy_all_found, TRUE AS approx_engaged
FROM cnt
""",
    "ntok_stats": """
WITH n AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS INT) AS n_tok
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       min(n_tok) AS min_tok,
       max(n_tok) AS max_tok
FROM n GROUP BY source ORDER BY source
""",
    # BM25: same IEEE-754 expression tree as bm25_scores — double literals
    # via e-notation (bare decimals are DECIMAL in DuckDB), same
    # left-associative sum order, idf via ln (both engines call libm).
    "bm25_doc_scores": """
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents WHERE text IS NOT NULL
),
st AS (
  SELECT count(*) AS n, sum(len(ws)) AS tot,
         sum(CASE WHEN list_contains(ws, 'hash') THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN list_contains(ws, 'join') THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN list_contains(ws, 'dup')  THEN 1 ELSE 0 END) AS df2
  FROM d
),
sc AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
         CAST(len(list_filter(ws, x -> x = 'hash')) AS BIGINT) AS tf_0,
         CAST(len(list_filter(ws, x -> x = 'join')) AS BIGINT) AS tf_1,
         CAST(len(list_filter(ws, x -> x = 'dup'))  AS BIGINT) AS tf_2
  FROM d
)
SELECT doc_id, dl, tf_0, tf_1, tf_2,
  CAST(floor((0.0e0
    + (ln((n - df0 + 0.5e0) / (df0 + 0.5e0) + 1.0e0) * (tf_0 * 2.2e0))
      / (tf_0 + 1.2e0 * (0.25e0 + (0.75e0 * dl) / (tot / n)))
    + (ln((n - df1 + 0.5e0) / (df1 + 0.5e0) + 1.0e0) * (tf_1 * 2.2e0))
      / (tf_1 + 1.2e0 * (0.25e0 + (0.75e0 * dl) / (tot / n)))
    + (ln((n - df2 + 0.5e0) / (df2 + 0.5e0) + 1.0e0) * (tf_2 * 2.2e0))
      / (tf_2 + 1.2e0 * (0.25e0 + (0.75e0 * dl) / (tot / n)))
  ) * 1000000000.0e0) AS BIGINT) AS score_fp
FROM sc, st ORDER BY doc_id
""",
    "events_asof_join": """
WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
m AS (
  SELECT p.event_id, v.event_id AS view_event_id, v.ts AS view_ts,
         v.value AS view_value,
         row_number() OVER (
           PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC
         ) AS rn
  FROM p JOIN v ON v.user_id = p.user_id
       AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 2 HOUR
)
SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms, m.view_event_id,
       epoch_ms(m.view_ts) AS view_ts_ms, m.view_value
FROM p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m ON m.event_id = p.event_id
ORDER BY p.event_id
""",
    "token_entropy_per_source": f"""
WITH {_TOK_CTE},
cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks JOIN documents USING (doc_id) GROUP BY source, tok
),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY source)
SELECT cnt.source,
       CAST(first(t) AS BIGINT) AS n_values,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(-sum(c * CAST(floor(ln(c / t) * 1000000000.0e0) AS BIGINT))
            AS BIGINT) AS entropy_fp_sum
FROM cnt JOIN tot ON tot.source = cnt.source
GROUP BY cnt.source ORDER BY cnt.source
""",
    "token_kl_per_source": f"""
WITH {_TOK_CTE},
cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks JOIN documents USING (doc_id) GROUP BY source, tok
),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY source),
corpus AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cc FROM cnt GROUP BY tok),
tall AS (SELECT CAST(sum(c) AS BIGINT) AS t_all FROM cnt)
SELECT cnt.source,
       CAST(first(tot.t) AS BIGINT) AS n_values,
       CAST(sum(c * CAST(floor(ln((c / tot.t) / (cc / t_all))
                               * 1000000000.0e0) AS BIGINT)) AS BIGINT)
         AS kl_fp_sum
FROM cnt
JOIN tot ON tot.source = cnt.source
JOIN corpus ON corpus.tok = cnt.tok
CROSS JOIN tall
GROUP BY cnt.source ORDER BY cnt.source
""",
    "events_stream_hll": """
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_3rsd
FROM events
""",
    # Bigram LM scoring: per-pair ln quantized to 1e-9 fixed point before
    # the (integer) per-doc sum, so no float accumulation order exists to
    # disagree on.
    "bigram_logprob_docs": """
WITH dws AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents WHERE text IS NOT NULL
),
pw AS (
  SELECT doc_id, unnest(ws) AS wd,
         CAST(unnest(range(1, len(ws) + 1)) AS INT) AS pos
  FROM dws
),
-- adjacency is position-defined, so token ids are irrelevant: pair
-- directly on the word strings (the Spark side's int pairs group
-- identically because the word -> id map is a bijection)
pairs AS (
  SELECT a.doc_id, a.wd AS a, b.wd AS b
  FROM pw a JOIN pw b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bi AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM pairs GROUP BY a, b),
fst AS (SELECT a, CAST(count(*) AS BIGINT) AS c_a FROM pairs GROUP BY a),
lut AS (
  SELECT bi.a, bi.b,
         CAST(floor(ln(c_ab / c_a) * 1000000000.0e0) AS BIGINT) AS lp_fp
  FROM bi JOIN fst ON fst.a = bi.a
)
SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(lp_fp) AS BIGINT) AS logprob_fp_sum
FROM pairs p JOIN lut ON lut.a = p.a AND lut.b = p.b
GROUP BY p.doc_id ORDER BY doc_id
""",
    "trigram_logprob_docs": """
WITH dws AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents WHERE text IS NOT NULL
),
pw AS (
  SELECT doc_id, unnest(ws) AS wd,
         CAST(unnest(range(1, len(ws) + 1)) AS INT) AS pos
  FROM dws
),
pairs AS (
  SELECT a.doc_id, a.wd AS a, b.wd AS b
  FROM pw a JOIN pw b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
trips AS (
  SELECT a.doc_id, a.wd AS a, b.wd AS b, c.wd AS c
  FROM pw a
  JOIN pw b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN pw c ON b.doc_id = c.doc_id AND c.pos = b.pos + 1
),
tri AS (SELECT a, b, c, CAST(count(*) AS BIGINT) AS c_abc FROM trips GROUP BY a, b, c),
ctx2 AS (SELECT a, b, CAST(sum(c_abc) AS BIGINT) AS c_ab FROM tri GROUP BY a, b),
bi AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_bc FROM pairs GROUP BY a, b),
ctx1 AS (SELECT a, CAST(sum(c_bc) AS BIGINT) AS c_b FROM bi GROUP BY a),
uni AS (SELECT wd, CAST(count(*) AS BIGINT) AS c_c FROM pw GROUP BY wd),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pw),
lut AS (
  SELECT tri.a, tri.b, tri.c,
         CAST(floor(ln(
           0.7e0 * (CAST(c_abc AS DOUBLE) / CAST(c_ab AS DOUBLE))
           + 0.2e0 * (CAST(c_bc AS DOUBLE) / CAST(c_b AS DOUBLE))
           + 0.1e0 * (CAST(c_c AS DOUBLE) / CAST(n AS DOUBLE))
         ) * 1000000000.0e0) AS BIGINT) AS lp_fp
  FROM tri
  JOIN ctx2 ON ctx2.a = tri.a AND ctx2.b = tri.b
  JOIN bi ON bi.a = tri.b AND bi.b = tri.c
  JOIN ctx1 ON ctx1.a = tri.b
  JOIN uni ON uni.wd = tri.c
  CROSS JOIN tot
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_triples,
       CAST(sum(lp_fp) AS BIGINT) AS logprob_fp_sum
FROM trips t JOIN lut ON lut.a = t.a AND lut.b = t.b AND lut.c = t.c
GROUP BY t.doc_id ORDER BY doc_id
""",
    "kn_bigram_logprob_docs": """
WITH dws AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents WHERE text IS NOT NULL
),
pw AS (
  SELECT doc_id, unnest(ws) AS wd,
         CAST(unnest(range(1, len(ws) + 1)) AS INT) AS pos
  FROM dws
),
pairs AS (
  SELECT a.doc_id, a.wd AS a, b.wd AS b
  FROM pw a JOIN pw b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bi AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM pairs GROUP BY a, b),
ctx AS (
  SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a,
         CAST(count(*) AS BIGINT) AS n1_fwd
  FROM bi GROUP BY a
),
back AS (SELECT b, CAST(count(*) AS BIGINT) AS n1_back FROM bi GROUP BY b),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM bi),
lut AS (
  SELECT bi.a, bi.b,
         CAST(floor(ln(
           greatest(CAST(c_ab AS DOUBLE) - 0.75e0, 0.0e0)
             / CAST(c_a AS DOUBLE)
           + (0.75e0 * CAST(n1_fwd AS DOUBLE)) / CAST(c_a AS DOUBLE)
             * (CAST(n1_back AS DOUBLE) / CAST(n_bi AS DOUBLE))
         ) * 1000000000.0e0) AS BIGINT) AS lp_fp
  FROM bi JOIN ctx ON ctx.a = bi.a JOIN back ON back.b = bi.b CROSS JOIN tot
)
SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(lp_fp) AS BIGINT) AS logprob_fp_sum
FROM pairs p JOIN lut ON lut.a = p.a AND lut.b = p.b
GROUP BY p.doc_id ORDER BY doc_id
""",
    # PMI: counts are exact recounts; the ln expression tree mirrors the
    # Spark side left-associatively (T and T2 fold in as BIGINT/BIGINT
    # double divisions, identical to Spark's long/double-literal).
    "motif_pmi_k2": f"""
WITH {_TOK_CTE},
pairs AS (
  SELECT a.doc_id, a.tok AS m1, b.tok AS m2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.idx < b.idx
),
cnt AS (
  SELECT m1, m2, CAST(count(*) AS BIGINT) AS c_ab
  FROM pairs GROUP BY m1, m2 HAVING count(*) >= {PMI_MIN}
),
uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
docn AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
tot AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM toks) AS t_tokens,
         (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) FROM docn) AS t_pairs
)
SELECT cnt.m1, cnt.m2, cnt.c_ab, u1.c AS c_1, u2.c AS c_2,
  CAST(floor((ln(cnt.c_ab / t_pairs) - ln(u1.c / t_tokens)
              - ln(u2.c / t_tokens)) * 1000000.0e0) AS BIGINT) AS pmi_fp
FROM cnt
JOIN uni u1 ON u1.tok = cnt.m1
JOIN uni u2 ON u2.tok = cnt.m2
CROSS JOIN tot
ORDER BY m1, m2
""",
    # A-ES weighted sample: the uniform source is the KMV hash, so the
    # key -ln((h+1)/2^31)/w and therefore the ENTIRE selection is
    # recomputable (ln via libm on both engines; double literal forced
    # with e-notation).
    "weighted_sample_docs": f"""
WITH d AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
h AS (
  SELECT doc_id, source, n_chars,
         {_kmv_hash_sql('(CAST(doc_id AS BIGINT) + 0)')} AS hh
  FROM d
),
key AS (
  SELECT doc_id, source, n_chars,
         -ln((hh + 1) / 2147483648.0e0) / CAST(n_chars AS DOUBLE) AS e
  FROM h
),
rk AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source ORDER BY e ASC, doc_id ASC
         ) AS sample_rank
  FROM key
)
SELECT source, doc_id, n_chars, sample_rank FROM rk
WHERE sample_rank <= {WSAMPLE_K} ORDER BY source, sample_rank
""",
    # ungrouped A-ES sample: same key derivation, global bottom-k
    "weighted_sample_global": f"""
WITH d AS (
  SELECT doc_id, n_chars FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
h AS (
  SELECT doc_id, n_chars,
         {_kmv_hash_sql('(CAST(doc_id AS BIGINT) + 0)')} AS hh
  FROM d
),
key AS (
  SELECT doc_id, n_chars,
         -ln((hh + 1) / 2147483648.0e0) / CAST(n_chars AS DOUBLE) AS e
  FROM h
),
rk AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY e ASC, doc_id ASC) AS sample_rank
  FROM key
)
SELECT doc_id, n_chars, sample_rank FROM rk
WHERE sample_rank <= {WSAMPLE_GLOBAL_K} ORDER BY sample_rank
""",
    # FULL exact oracles for the KMV sketch: the hash (two quadratic
    # permutation rounds mod 2^31-1, sketches/kmv.py hash_sql) and the
    # integer estimator run verbatim in DuckDB, so even the approximate
    # estimates hash-match bit-for-bit.
    "kmv_distinct_custkeys": f"""
WITH hd AS (
  SELECT DISTINCT o_orderpriority AS grp, {_kmv_hash_sql('o_custkey')} AS h
  FROM orders
),
rk AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM hd
),
sk AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth_hash
  FROM rk WHERE rn <= {KMV_K} GROUP BY grp
),
ex AS (
  SELECT o_orderpriority AS grp, count(DISTINCT o_custkey) AS n_exact
  FROM orders GROUP BY grp
),
est AS (
  SELECT grp, n_kept, kth_hash,
         CASE WHEN n_kept < {KMV_K} THEN n_kept
              ELSE ({(KMV_K - 1) * 2147483647}) // kth_hash END AS est_distinct
  FROM sk
)
SELECT est.grp AS o_orderpriority, n_kept, kth_hash, est_distinct, n_exact,
       (est_distinct - n_exact) * (est_distinct - n_exact) * {KMV_K - 1}
         <= 9 * n_exact * n_exact AS within_3rse
FROM est JOIN ex ON est.grp = ex.grp
ORDER BY o_orderpriority
""",
    # superspreader ranking: bottom-k, estimator, AND the top-n ordering
    # all recomputed exactly
    "topk_distinct_sources": f"""
WITH {_TOK_CTE},
st AS (
  SELECT DISTINCT d.source, t.tok
  FROM toks t JOIN documents d ON d.doc_id = t.doc_id
),
hs AS (SELECT DISTINCT source, {_kmv_hash_sql('tok')} AS h FROM st),
rk AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM hs
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth
  FROM rk WHERE rn <= {KMV_SETOPS_K} GROUP BY source
)
SELECT source, n_kept,
       CASE WHEN n_kept < {KMV_SETOPS_K} THEN n_kept
            ELSE {(KMV_SETOPS_K - 1) * 2147483647} // kth END AS est_distinct
FROM agg
ORDER BY est_distinct DESC, source
LIMIT {TOPK_DISTINCT_N}
""",
    # pairwise set-op estimates: union-of-sketches bottom-k is the union's
    # sketch; intersection via n_common * est_union // k_used
    "kmv_source_set_ops": f"""
WITH {_TOK_CTE},
st AS (
  SELECT DISTINCT d.source, t.tok
  FROM toks t JOIN documents d ON d.doc_id = t.doc_id
),
hs AS (SELECT DISTINCT source, {_kmv_hash_sql('tok')} AS h FROM st),
rk AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM hs
),
sk AS (SELECT source, h FROM rk WHERE rn <= {KMV_SETOPS_K}),
srcs AS (SELECT DISTINCT source FROM sk),
pairs AS (
  SELECT a.source AS s1, b.source AS s2
  FROM srcs a JOIN srcs b ON a.source < b.source
),
uh AS (
  SELECT p.s1, p.s2, s.h
  FROM pairs p JOIN sk s ON s.source = p.s1 OR s.source = p.s2
  GROUP BY p.s1, p.s2, s.h
),
uk AS (
  SELECT s1, s2, h, row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn
  FROM uh
),
ukk AS (SELECT s1, s2, h FROM uk WHERE rn <= {KMV_SETOPS_K}),
ku AS (
  SELECT s1, s2, CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth
  FROM ukk GROUP BY s1, s2
),
nc AS (
  SELECT u.s1, u.s2, CAST(count(*) AS BIGINT) AS n_common
  FROM ukk u
  JOIN sk sa ON sa.source = u.s1 AND sa.h = u.h
  JOIN sk sb ON sb.source = u.s2 AND sb.h = u.h
  GROUP BY u.s1, u.s2
),
est AS (
  SELECT ku.s1, ku.s2, ku.k_used, coalesce(nc.n_common, 0) AS n_common,
         CASE WHEN ku.k_used < {KMV_SETOPS_K} THEN ku.k_used
              ELSE {(KMV_SETOPS_K - 1) * 2147483647} // kth END AS est_union
  FROM ku LEFT JOIN nc ON nc.s1 = ku.s1 AND nc.s2 = ku.s2
)
SELECT s1 AS source_1, s2 AS source_2, k_used, n_common, est_union,
       CASE WHEN k_used = 0 THEN 0
            ELSE n_common * est_union // k_used END AS est_intersection
FROM est ORDER BY source_1, source_2
""",
    # AMS F2: the sign-hash sums AND the integer lower-median estimate
    # recomputed verbatim; exact_f2 from the distinct-count recount
    "ams_f2_tokens": f"""
WITH {_TOK_CTE},
st AS (
  SELECT d.source, t.tok
  FROM toks t JOIN documents d ON d.doc_id = t.doc_id
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_values,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(tok AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(tok AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(tok AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS s_0,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(tok AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(tok AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(tok AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS s_1,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(tok AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(tok AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(tok AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS s_2,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(tok AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(tok AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(tok AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS s_3,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(tok AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(tok AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(tok AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS s_4,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(tok AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(tok AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(tok AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS s_5,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(tok AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(tok AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(tok AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS s_6,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(tok AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(tok AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(tok AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(tok AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(tok AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS s_7
  FROM st GROUP BY source
),
ex AS (
  SELECT source, CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM (
    SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM st GROUP BY source, tok
  ) GROUP BY source
),
sq AS (
  SELECT source, n_values, s_0, s_1, s_2, s_3, s_4, s_5, s_6, s_7,
         list_sort([s_0 * s_0, s_1 * s_1, s_2 * s_2, s_3 * s_3, s_4 * s_4, s_5 * s_5, s_6 * s_6, s_7 * s_7]) AS ss
  FROM agg
)
SELECT sq.source, n_values, s_0, s_1, s_2, s_3, s_4, s_5, s_6, s_7, ss[4] AS f2_est, exact_f2
FROM sq JOIN ex ON ex.source = sq.source
ORDER BY sq.source
""",
    # integer-exact log2 buckets: length(bin(v)) - 1 on both engines
    "doc_length_histogram": """
WITH b AS (
  SELECT source, CAST(length(bin(n_chars)) - 1 AS BIGINT) AS bucket
  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 1
)
SELECT source, bucket,
       CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS bucket_lo,
       CAST(CAST(1 AS BIGINT) << (bucket + 1) AS BIGINT) AS bucket_hi,
       CAST(count(*) AS BIGINT) AS n_values
FROM b GROUP BY source, bucket ORDER BY source, bucket
""",
    # every row must sit inside its exact two-sided rank interval
    "percentile_rank_events": """
SELECT event_type, CAST(count(value) AS BIGINT) AS n_rows,
       CAST(count(value) AS BIGINT) AS n_ok
FROM events GROUP BY event_type ORDER BY event_type
""",
    # AMS join-size: both sign-sum vectors, the median product, and the
    # exact companion recomputed verbatim
    "ams_join_size": """
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_a,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(o_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(o_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(o_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sa_0,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(o_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(o_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(o_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sa_1,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(o_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(o_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(o_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sa_2,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(o_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(o_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(o_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sa_3,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(o_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(o_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(o_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sa_4,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(o_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(o_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(o_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sa_5,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(o_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(o_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(o_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sa_6,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(o_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(o_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(o_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(o_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(o_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sa_7
  FROM orders WHERE o_custkey IS NOT NULL
),
b AS (
  SELECT CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(c_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(c_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(c_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 0) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sb_0,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(c_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(c_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(c_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 1000003) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sb_1,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(c_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(c_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(c_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 2000006) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sb_2,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(c_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(c_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(c_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 3000009) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sb_3,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(c_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(c_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(c_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 4000012) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sb_4,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(c_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(c_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(c_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 5000015) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sb_5,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(c_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(c_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(c_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 6000018) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sb_6,
         CAST(sum((1 - 2 * ((((((((CAST((CAST(c_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST((CAST(c_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST((CAST(c_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST((CAST(c_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST((CAST(c_custkey AS BIGINT) + 7000021) AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2))) AS BIGINT) AS sb_7
  FROM customer WHERE c_custkey IS NOT NULL
),
ex AS (
  SELECT CAST(sum(ca * cb) AS BIGINT) AS exact_join_size FROM (
    SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS ca FROM orders GROUP BY 1
  ) oa JOIN (
    SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS cb FROM customer GROUP BY 1
  ) cb ON oa.k = cb.k
),
m AS (
  SELECT n_a, n_b, sa_0, sa_1, sa_2, sa_3, sa_4, sa_5, sa_6, sa_7, sb_0, sb_1, sb_2, sb_3, sb_4, sb_5, sb_6, sb_7,
         list_sort([sa_0 * sb_0, sa_1 * sb_1, sa_2 * sb_2, sa_3 * sb_3, sa_4 * sb_4, sa_5 * sb_5, sa_6 * sb_6, sa_7 * sb_7]) AS ps
  FROM a CROSS JOIN b
)
SELECT n_a, n_b, sa_0, sa_1, sa_2, sa_3, sa_4, sa_5, sa_6, sa_7, sb_0, sb_1, sb_2, sb_3, sb_4, sb_5, sb_6, sb_7, ps[4] AS join_size_est, exact_join_size
FROM m CROSS JOIN ex
""",
    # Count Sketch: the oracle rebuilds every colliding cell and the
    # integer median, reproducing the approximate estimates exactly
    "count_sketch_tokens": f"""
WITH {_TOK_CTE},
uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
rs AS (SELECT unnest([0, 1, 2, 3, 4]) AS r),
hb AS (
  SELECT tok, c, r,
         CAST((((((((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 16 AS BIGINT) AS bucket,
         CAST(1 - 2 * ((((((((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2) AS BIGINT) AS sgn
  FROM uni CROSS JOIN rs
),
cells AS (
  SELECT r, bucket, CAST(sum(sgn * c) AS BIGINT) AS cell
  FROM hb GROUP BY r, bucket
),
ests AS (
  SELECT hb.tok, hb.c, hb.sgn * cells.cell AS est_r
  FROM hb JOIN cells ON cells.r = hb.r AND cells.bucket = hb.bucket
),
med AS (
  SELECT tok, min(c) AS exact_c, list_sort(list(est_r)) AS es
  FROM ests GROUP BY tok
)
SELECT tok, exact_c, es[3] AS cs_est FROM med ORDER BY tok
""",
    # signed-difference sketch: cells are sums of sign * (cA - cB)
    "count_sketch_shift": f"""
WITH {_TOK_CTE},
uni AS (
  SELECT tok,
         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS c
  FROM toks GROUP BY tok
),
rs AS (SELECT unnest([0, 1, 2, 3, 4]) AS r),
hb AS (
  SELECT tok, c, r,
         CAST((((((((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + r * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 16 AS BIGINT) AS bucket,
         CAST(1 - 2 * ((((((((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) * (((((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) % 2147483647 + 69069 * (((((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) % 2147483647 + 1103515245 * ((CAST(tok + (r + 64) * 1000003 AS BIGINT) % 2147483647 + 2147483647) % 2147483647) + 12345) % 2147483647)) + 362437) % 2147483647) % 2) AS BIGINT) AS sgn
  FROM uni CROSS JOIN rs
),
cells AS (
  SELECT r, bucket, CAST(sum(sgn * c) AS BIGINT) AS cell
  FROM hb GROUP BY r, bucket
),
ests AS (
  SELECT hb.tok, hb.c, hb.sgn * cells.cell AS est_r
  FROM hb JOIN cells ON cells.r = hb.r AND cells.bucket = hb.bucket
),
med AS (
  SELECT tok, min(c) AS exact_diff, list_sort(list(est_r)) AS es
  FROM ests GROUP BY tok
)
SELECT tok, exact_diff, es[3] AS cs_diff_est FROM med ORDER BY tok
""",
    "kmv_doc_jaccard": f"""
WITH {_TOK_CTE},
dt AS (SELECT DISTINCT doc_id, tok FROM toks),
hd AS (SELECT DISTINCT doc_id, {_kmv_hash_sql('tok')} AS h FROM dt),
rk AS (
  SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
  FROM hd
),
sk AS (SELECT doc_id, h FROM rk WHERE rn <= {KMV_JACCARD_K}),
pd_ AS (
  SELECT s.doc_id, d.source
  FROM (SELECT DISTINCT doc_id FROM sk) s
  JOIN documents d ON d.doc_id = s.doc_id
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, a.source
  FROM pd_ a JOIN pd_ b ON a.source = b.source AND a.doc_id < b.doc_id
),
ukh AS (
  SELECT p.d1, p.d2, s.h
  FROM pairs p JOIN sk s ON s.doc_id = p.d1 OR s.doc_id = p.d2
  GROUP BY p.d1, p.d2, s.h
),
uk AS (
  SELECT d1, d2, h, row_number() OVER (PARTITION BY d1, d2 ORDER BY h) AS rn
  FROM ukh
),
ukk AS (SELECT d1, d2, h FROM uk WHERE rn <= {KMV_JACCARD_K}),
ku AS (SELECT d1, d2, CAST(count(*) AS BIGINT) AS k_used FROM ukk GROUP BY d1, d2),
nc AS (
  SELECT u.d1, u.d2, CAST(count(*) AS BIGINT) AS n_common
  FROM ukk u
  JOIN sk sa ON sa.doc_id = u.d1 AND sa.h = u.h
  JOIN sk sb ON sb.doc_id = u.d2 AND sb.h = u.h
  GROUP BY u.d1, u.d2
),
nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dt GROUP BY doc_id),
ei AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS exact_inter
  FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.source, p.d1 AS doc_1, p.d2 AS doc_2,
       coalesce(nc.n_common, 0) AS n_common,
       ku.k_used,
       coalesce(ei.exact_inter, 0) AS exact_inter,
       na.n + nb.n - coalesce(ei.exact_inter, 0) AS exact_union
FROM pairs p
JOIN ku ON ku.d1 = p.d1 AND ku.d2 = p.d2
LEFT JOIN nc ON nc.d1 = p.d1 AND nc.d2 = p.d2
LEFT JOIN ei ON ei.d1 = p.d1 AND ei.d2 = p.d2
JOIN nd na ON na.doc_id = p.d1
JOIN nd nb ON nb.doc_id = p.d2
ORDER BY p.source, doc_1, doc_2
""",
}


def flagship(spark: SparkSession) -> DataFrame:
    """Flagship for entry(): k=2 motif summary at sf0.001."""
    return q_motifs_k2_summary(spark, "/root/testdata/sf0.001")
