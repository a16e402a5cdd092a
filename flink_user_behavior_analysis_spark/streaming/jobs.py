"""Structured Streaming formulations of the SURVEY section 2 queries.

The reference runs every query as an unbounded Flink DataStream job
with event-time watermarks (TimeCharacteristic.EventTime, e.g.
HotItem.java:39; watermark assignment HotItem.java:62-67,
HotPage.java:55-60). Here each query is the SAME logical plan as its
batch twin in queries.py, expressed over ``readStream`` with
``withWatermark`` — tests assert streaming results equal the batch
formulation on a bounded replay (SURVEY section 5.3).

Output-mode strategy:
- windowed aggregations run in *complete* mode for bounded replays
  (exact batch-equal output, no watermark-eviction races). Unbounded
  production runs use *update* mode + the same watermark — noted per
  job; state eviction then follows the watermark exactly like the
  reference's window purge.
- Top-N over windowed counts is not expressible as a pure streaming
  aggregation (rank over an agg); the reference buffers per-window in
  keyed state and fires on watermark (HotItem.java:134-192). The Spark
  analogue is foreachBatch ranking — ``run_topn_foreach_batch`` —
  mirroring HotPage's late-update-safe MapState upsert
  (HotPage.java:140-204): each micro-batch upserts counts, then ranks.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import top_n_per_window, windowed_count, windowed_global_count
from ..session import ensure_utc
from ..sources.readers import file_replay_stream


def stream_events(
    spark: SparkSession, sf_dir: str, watermark: str | None = "0 seconds"
) -> DataFrame:
    """events table as an event-time stream with watermark (W1-W3:
    the reference's ascending/bounded-out-of-orderness extractors map
    to withWatermark with the matching delay). Pass watermark=None when
    the caller defines per-branch watermarks (e.g. stream-stream joins
    — Spark forbids redefining a watermark downstream)."""
    ensure_utc(spark)
    ev = file_replay_stream(spark, sf_dir, "events")
    if watermark is None:
        return ev
    return ev.withWatermark("ts", watermark)


# ---------------------------------------------------------------- queries

def hot_items_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 streaming: per-item sliding-window counts (HotItem.java:70-75)."""
    ev = stream_events(spark, sf_dir).where(F.col("event_type") == "view")
    ev = ev.withColumn(
        "item_id", F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")
    )
    return windowed_count(ev, "ts", ["item_id"], "1 hour", "15 minutes")


def page_views_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 streaming: tumbling global count (PageView.java:66-80)."""
    ev = stream_events(spark, sf_dir).where(F.col("event_type") == "click")
    return windowed_global_count(ev, "ts", "1 hour", count_alias="pv")


def unique_visitors_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 streaming: exact distinct users per tumbling window via
    dropDuplicates on (window, user) then count — the streaming-safe
    exact-distinct shape (UniqueVisitor.java:48-79's HashSet without
    the single-JVM memory bound)."""
    ev = stream_events(spark, sf_dir)
    deduped = ev.select(
        F.window("ts", "1 hour").alias("w"), F.col("user_id"), F.col("ts")
    ).dropDuplicates(["w", "user_id"])
    return (
        deduped.groupBy("w")
        .agg(F.count(F.lit(1)).alias("uv"))
        .select(F.unix_micros(F.col("w.end")).alias("window_end_us"), "uv")
    )


def marketing_by_channel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 streaming: compound-key sliding counts
    (AppMarketingByChannel.java:47-51)."""
    ev = stream_events(spark, sf_dir).where(F.col("event_type") != "error")
    ev = ev.withColumn(
        "channel", F.concat(F.lit("ch"), (F.col("user_id") % 4).cast("string"))
    ).withColumnRenamed("event_type", "behavior")
    return windowed_count(ev, "ts", ["channel", "behavior"], "1 hour", "20 minutes")


def sessionize_stream(
    spark: SparkSession, sf_dir: str, gap_seconds: int = 30 * 60
) -> DataFrame:
    """Gap-based sessionization as a STREAMING aggregation via Spark's
    native session_window — state-store-backed session merging, the
    engine feature the batch lag+cumsum form cannot stream (sessions
    merge as late events arrive; watermark evicts closed sessions).
    Output matches sessionize_native minus the per-key session index
    (a global rank is not a streaming aggregation)."""
    ev = stream_events(spark, sf_dir)
    win = F.session_window(F.col("ts"), f"{gap_seconds} seconds")
    return ev.groupBy(win.alias("w"), F.col("user_id")).agg(
        F.min(F.unix_micros("ts")).alias("session_start_us"),
        F.max(F.unix_micros("ts")).alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    ).select("user_id", "session_start_us", "session_end_us", "n_events")


def exact_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: the md5-fingerprint groupBy of
    operators/dedup.exact_dedup as an unbounded aggregation — each
    arriving document folds into its fingerprint group, so the keeper
    (min doc_id) and multiplicity stay correct under any arrival
    order. Complete mode on the bounded replay equals the batch
    operator exactly; an unbounded production run uses update mode,
    or — when a late bound exists — dropDuplicatesWithinWatermark,
    which caps state at O(watermark window) instead of O(distinct
    fingerprints)."""
    from ..operators.dedup import normalized_text

    ensure_utc(spark)
    docs = file_replay_stream(spark, sf_dir, "documents")
    return docs.select(
        F.md5(normalized_text("text")).alias("fingerprint"), F.col("doc_id")
    ).groupBy("fingerprint").agg(
        F.min("doc_id").cast("long").alias("keeper_id"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


def semdedup_assign_stream(spark: SparkSession, sf_dir: str,
                           centroids: list) -> DataFrame:
    """Streaming semantic-cluster assignment: the SemDeDup argmax
    projection (operators/similarity.semdedup_assign — literal
    centroids, zero shuffle, STATELESS) applied to a replayed
    embeddings stream. Append mode; each arriving vector is routed
    to its cell independently, so the streaming result equals the
    batch assignment row-for-row (test-asserted). This is the
    ingest-side half of incremental SemDeDup: route arrivals to
    cells on the wire, then batch the within-cell probe
    (semdedup_probe) per micro-batch or per accepted batch."""
    from ..operators.similarity import semdedup_assign

    ensure_utc(spark)
    embs = file_replay_stream(spark, sf_dir, "embeddings")
    return semdedup_assign(embs, centroids)


def semdedup_drift_stream(spark: SparkSession, sf_dir: str,
                          centroids: list) -> DataFrame:
    """Streaming half of the SemDeDup drift monitor: route each
    arriving vector to its cell (the stateless literal-centroid
    projection) and accumulate the per-cell (count, integer
    micro-unit cosine sum) — both associative and commutative, so
    the streaming state is ONE row per cell and the drained result
    equals the batch aggregation whatever the micro-batch split
    (test-asserted). Compose the drained stats with
    operators/similarity.semdedup_drift_from_stats to get the same
    report the inline monitor produces — per-cell state this small
    is what makes the monitor a viable always-on stream job."""
    from ..operators.similarity import (semdedup_assign,
                                        semdedup_batch_stats)

    ensure_utc(spark)
    embs = file_replay_stream(spark, sf_dir, "embeddings")
    # THE batch aggregation applied to the stream — one
    # implementation, so the drain==batch contract cannot
    # desynchronize between the two paths
    return semdedup_batch_stats(semdedup_assign(embs, centroids))


def curation_stream(spark: SparkSession, sf_dir: str,
                    min_quality: float = 0.6) -> DataFrame:
    """Streaming head of the curation pipeline (VERDICT r3 item 6):
    quality filter -> exact dedup, composed as ONE streaming plan.
    The quality score is a pure per-row projection, so the filter
    stays a stateless scan predicate on the stream (no state, no
    watermark needed); the exact-dedup stage is the same
    fingerprint aggregation as exact_dedup_stream. The drained
    output (keeper_id per fingerprint) is the survivor set the
    incremental near-dup probe (operators/dedup.dedup_incremental)
    consumes — the streaming test composes all three and asserts the
    survivor sets match the batch composition exactly."""
    from ..operators.dedup import normalized_text
    from ..operators.text import quality_score_col

    ensure_utc(spark)
    docs = file_replay_stream(spark, sf_dir, "documents")
    return (
        docs.where(quality_score_col("text") >= min_quality)
        .select(F.md5(normalized_text("text")).alias("fingerprint"),
                F.col("doc_id"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").cast("long").alias("keeper_id"),
             F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def funnel_step_events_stream(
    spark: SparkSession, sf_dir: str,
    steps=("view", "click", "purchase"),  # = queries.FUNNEL_STEPS
) -> DataFrame:
    """Streaming head of the funnel rollup (VERDICT r5 #6): filter
    the event stream to the funnel's step types and deduplicate
    exact (user, step, ts) replays — the state the stream maintains
    is bounded by DISTINCT step events, never raw traffic. The
    funnel recursion itself (step i+1's match time depends on step
    i's) is a cross-row, cross-step dependency no streaming
    aggregation expresses, so the production shape re-aggregates the
    drained step-event table per batch (operators/funnel.py:funnel —
    k-row output); stream dedup ≡ batch distinct makes stream
    funnel ≡ batch funnel, test-asserted. Bounded replays drain in
    append mode; unbounded runs swap in
    dropDuplicatesWithinWatermark for state eviction."""
    ensure_utc(spark)
    ev = file_replay_stream(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type").isin(list(steps)))
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type", "ts"])
    )


def user_week_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming half of weekly cohort retention: the distinct
    (user, epoch-week) pairs as a stateful stream dedup — exactly
    operators/funnel.py:user_week_activity's sufficient statistic,
    with state bounded by users x weeks (the week expression mirrors
    user_week_activity; streaming needs dropDuplicates, not
    .distinct()). retention_from_user_weeks re-aggregates the
    drained pairs to the k-row cohort table."""
    ensure_utc(spark)
    ev = file_replay_stream(spark, sf_dir, "events")
    week = (F.floor(F.unix_micros(F.col("ts"))
                    / F.lit(7 * 86400 * 10**6))).cast("long")
    return (
        ev.select(F.col("user_id").alias("_u"), week.alias("_w"))
        .dropDuplicates(["_u", "_w"])
    )


def user_day_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming half of the DAU/WAU rollup: distinct (user,
    epoch-day) pairs as stream-dedup state (user_week_stream at day
    grain); dau_stickiness_from_user_days re-aggregates the drained
    pairs to the day-grain report."""
    ensure_utc(spark)
    ev = file_replay_stream(spark, sf_dir, "events")
    day = (F.floor(F.unix_micros(F.col("ts"))
                   / F.lit(86400 * 10**6))).cast("long")
    return (
        ev.select(F.col("user_id").alias("_u"), day.alias("_d"))
        .dropDuplicates(["_u", "_d"])
    )


def props_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming half of props_topk: the (event_type, k) counts as an
    unbounded aggregation (get_json_object is a stateless codegen
    projection on the stream); the top-5 rank — not a streaming
    aggregation — composes on the drained counts per batch, the
    error_spikes two-stage pattern."""
    ensure_utc(spark)
    ev = file_replay_stream(spark, sf_dir, "events")
    k_val = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select(F.col("event_type"), k_val.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def pii_scrub_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PII redaction: operators/text.pii_scrub applied to a
    replayed document stream. The scrub is a pure per-row projection
    (regex counts + chained placeholder replaces, JVM codegen), so
    it runs stateless in append mode — each arriving document is
    redacted independently and the drained output equals the batch
    scrub row-for-row (test-asserted). The production shape for
    scrub-on-ingest: redact BEFORE the first durable write, so raw
    PII never lands in the lake."""
    from ..operators.text import pii_scrub

    ensure_utc(spark)
    docs = file_replay_stream(spark, sf_dir, "documents")
    return pii_scrub(docs)


def media_headers_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of multimodal_headers: wrap the replayed
    document stream as real PNG/JPEG/GIF/BMP payloads (stateless JVM
    column exprs, same doc_id % 4 dispatch as the batch query) and
    parse their headers in the Arrow map — per-row, stateless, append
    mode, so the drained output equals the batch parse row-for-row
    (the pii_scrub_stream contract). The scan-at-ingest shape for
    media metadata: dims/channels land in the catalog before the
    first durable write, so malformed payloads fail loudly at the
    edge instead of poisoning a downstream decode."""
    from ..operators.multimodal import (documents_as_bmp,
                                        documents_as_gif,
                                        documents_as_jpeg,
                                        documents_as_png, media_headers)

    ensure_utc(spark)
    docs = file_replay_stream(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    media = (
        documents_as_png(docs.where(m == 0))
        .unionByName(documents_as_jpeg(docs.where(m == 1)))
        .unionByName(documents_as_gif(docs.where(m == 2)))
        .unionByName(documents_as_bmp(docs.where(m == 3)))
    )
    return media_headers(media)


def media_ahash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the image perceptual-hash pass (r11): wrap
    the replayed documents as real PPM payloads and average-hash each
    inside the Arrow map — per-row, stateless, append mode, so the
    drained output equals the batch hash pass row-for-row. The
    hash-at-ingest shape: fingerprints land with the arrival stream,
    and the dedup/banding stages downstream are hash-space-only work
    that never revisits pixels."""
    from ..operators.multimodal import documents_as_ppm, media_ahash

    ensure_utc(spark)
    docs = file_replay_stream(spark, sf_dir, "documents")
    return media_ahash(documents_as_ppm(docs))


def run_ingest_foreach_batch(raw_sdf: DataFrame, checkpoint_dir: str,
                             ingest_fn, job_id: str = "ingest") -> None:
    """Exactly-once streaming INGEST into a stored index (VERDICT r8
    #5): drain ``raw_sdf`` via foreachBatch, calling
    ``ingest_fn(batch_df, batch_id)`` with ``batch_id =
    f"{job_id}-{epoch_id}"``. Structured Streaming's contract is
    at-least-once for foreachBatch — after a crash/restart the
    in-flight epoch REPLAYS with the SAME epoch id and the same file
    set (checkpoint WAL) — so an ingest_fn that routes through a
    ledgered append (dedup_append_corpus / span_append_counts /
    ivfpq_append_to_index / semdedup_append_corpus with this
    batch_id) composes to exactly-once: the replayed epoch is a
    ledger hit and appends nothing (restart-replay test-asserted in
    tests/test_streaming_recovery.py).

    ``job_id`` must be unique per (stream, index) pair — epoch ids
    restart from 0 per checkpoint, so two jobs sharing an index and
    a job_id would collide ledger entries."""

    def _ingest(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_fn(batch_df, f"{job_id}-{epoch_id}")

    q = (
        raw_sdf.writeStream.outputMode("append")
        .foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def curation_ingest_batch(spark: SparkSession, prefix: str,
                          batch_df: DataFrame, batch_id: str,
                          threshold: float = 0.8) -> int:
    """Per-micro-batch body of the streaming curation ingest: probe
    the batch against the STORED minhash corpus (probe-only —
    per-batch wall is a function of the batch, not the corpus), keep
    the near-dup survivors, and fold them into the corpus through the
    exactly-once ledgered append. Early-exits on a committed
    re-delivery BEFORE paying the probe (the ledger check
    dedup_append_corpus would repeat). Returns appended row count (0
    for a replayed epoch)."""
    from ..operators.dedup import (dedup_append_corpus,
                                   dedup_incremental_from_store)
    from ..sources.readers import append_recorded

    if append_recorded(spark, prefix, batch_id):
        return 0
    batch_df = batch_df.persist()
    try:
        decisions = dedup_incremental_from_store(
            spark, prefix, batch_df, threshold)
        survivors = batch_df.join(
            decisions.where(F.col("status") == "kept").select("doc_id"),
            "doc_id")
        return dedup_append_corpus(spark, prefix, survivors,
                                   batch_id=batch_id)
    finally:
        batch_df.unpersist()


def dsir_ingest_batch(spark: SparkSession, prefix_raw: str,
                      prefix_tgt: str, batch_df: DataFrame,
                      batch_id: str, logw_threshold: float = 0.0,
                      select_sink: str | None = None) -> int:
    """Per-micro-batch body of the streaming DSIR ingest (VERDICT r10
    #7): score the arriving docs against the CURRENT raw LM and the
    frozen target LM (probe-only likelihood ratio,
    operators/text.dsir_weights_from_models), select the docs whose
    importance weight clears ``logw_threshold``, then fold the WHOLE
    batch into the raw LM through the exactly-once ledgered append —
    the raw LM is the raw-stream distribution estimate, so it absorbs
    everything it has seen regardless of selection, and every later
    batch is scored against a raw LM that already reflects this one.

    Exactly-once composition: the ledger check on ``prefix_raw``
    early-exits a committed re-delivery BEFORE paying the scoring
    probe (same shape as curation_ingest_batch); the selection output
    is made idempotent by writing each epoch's survivors to an
    overwrite-mode ``ingest_batch=<id>`` subdirectory of
    ``select_sink`` — a replayed epoch rewrites the same directory
    with the same rows (the scores are a pure function of the batch
    and the PRE-append LM state, which the ledger guarantees is what
    a replay sees). Returns the number of SELECTED docs (0 for a
    replayed epoch)."""
    from ..operators.text import (dsir_weights_from_models,
                                  lm_append_to_model, lm_read_model)
    from ..sources.readers import append_recorded

    if append_recorded(spark, prefix_raw, batch_id):
        return 0
    batch_df = batch_df.persist()
    try:
        weights = dsir_weights_from_models(
            lm_read_model(spark, prefix_raw),
            lm_read_model(spark, prefix_tgt), batch_df)
        selected = (batch_df.join(
            weights.where(F.col("logw") >= logw_threshold)
            .select("doc_id", "logw"), "doc_id").persist())
        n_selected = selected.count()
        if select_sink is not None:
            (selected.write.mode("overwrite")
             .parquet(f"{select_sink}/ingest_batch={batch_id}"))
        # the ledgered append commits LAST: a crash before this point
        # replays the epoch (ledger miss -> rescore, same pre-append
        # LM state -> same selections, idempotent sink rewrite); a
        # crash after it replays into a ledger hit and appends nothing
        lm_append_to_model(spark, prefix_raw, batch_df,
                           batch_id=batch_id)
        selected.unpersist()
        return n_selected
    finally:
        batch_df.unpersist()


def run_dsir_ingest(raw_docs: DataFrame, prefix_raw: str,
                    prefix_tgt: str, checkpoint_dir: str,
                    logw_threshold: float = 0.0,
                    select_sink: str | None = None,
                    job_id: str = "dsir") -> None:
    """End-to-end streaming DSIR ingest (VERDICT r10 #7): compose the
    frozen-artifact scoring of dsir_score_stream with the raw-LM
    growth of lm_append_to_model under one exactly-once foreachBatch
    loop — score, select, append, epoch by epoch. Crash/replay and
    concurrent-rebuild quarantine semantics are inherited from the
    shared transactional skeleton (test-asserted in
    tests/test_streaming_recovery.py alongside the curation twin)."""
    spark = raw_docs.sparkSession
    run_ingest_foreach_batch(
        raw_docs, checkpoint_dir,
        lambda b, bid: dsir_ingest_batch(spark, prefix_raw, prefix_tgt,
                                         b, bid, logw_threshold,
                                         select_sink),
        job_id=job_id)


def run_probe_foreach_batch(raw_sdf: DataFrame, probe_fn) -> DataFrame:
    """Drain a bounded stream of probe inputs via foreachBatch,
    running ``probe_fn`` (batch DataFrame -> DataFrame) against
    STORED serving artifacts per micro-batch, and return the union
    of the per-batch results — the harness for the stored-index
    serving twins (SemDeDup corpus probe, filtered ANN). The probe
    functions are stateless per row/query given the frozen
    artifacts, so the drained union equals the one-shot batch probe
    whatever the micro-batch split (test-asserted).

    Bounded-replay harness (like run_topn_foreach_batch): per-batch
    results are collected to the driver. An unbounded production run
    writes each micro-batch's probe result straight to a keyed sink
    from inside foreachBatch instead — the probe plan itself is
    identical."""
    spark = raw_sdf.sparkSession
    holder: dict = {"rows": [], "schema": None}

    def _probe(batch_df: DataFrame, _bid: int) -> None:
        out = probe_fn(batch_df)
        holder["rows"].extend(out.collect())
        holder["schema"] = out.schema

    q = (
        raw_sdf.writeStream.outputMode("append")
        .foreachBatch(_probe)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if holder["schema"] is None:
        # zero micro-batches (empty replay source): derive the output
        # schema by probing an empty batch, so callers get an empty
        # frame of the right shape instead of a schema-inference error
        return probe_fn(spark.createDataFrame([], raw_sdf.schema))
    return spark.createDataFrame(holder["rows"], holder["schema"])


def semdedup_probe_stream(spark: SparkSession, sf_dir: str,
                          prefix: str, centroids: list, eps: float,
                          delta_pred=None) -> DataFrame:
    """Streaming micro-batch probe against the STORED SemDeDup corpus
    (VERDICT r7 #4): arriving vectors replay as a stream and each
    micro-batch runs the cell-partition-pruned corpus probe
    (operators/similarity.semdedup_probe, vs_delta=False) against the
    frozen {prefix}_cells artifact — dup_corpus / n_corpus_matches
    per vector, exactly the batch result under any micro-batch split
    (each verdict depends on the row and the frozen corpus alone).

    The within-delta half is deliberately NOT on the wire: its
    dominance rule is order-sensitive across micro-batches, so
    cross-batch dedup belongs to the ingest loop's accept side
    (probe -> append keepers -> next batch sees them —
    tests/test_streaming.py::test_semdedup_ingest_loop covers it).
    ``delta_pred``: optional Column filtering the replayed
    embeddings down to the delta."""
    from ..operators.similarity import semdedup_probe

    ensure_utc(spark)
    embs = file_replay_stream(spark, sf_dir, "embeddings")
    if delta_pred is not None:
        embs = embs.where(delta_pred)
    return run_probe_foreach_batch(
        embs,
        lambda batch: semdedup_probe(spark, prefix, batch, centroids,
                                     eps, vs_delta=False))


def snapshot_diff_stream(spark: SparkSession, sf_dir: str,
                         prefix: str, key_cols, content_cols,
                         transform=None) -> DataFrame:
    """Streaming CDC-shaped snapshot diff: rows of a CANDIDATE
    snapshot replay as a stream (``transform`` derives the candidate
    from the raw table — mutations, filters) and each micro-batch
    probes the stored {prefix}_fps artifact
    (operators/versioning.snapshot_probe_from_store): added/changed
    verdicts per row, split-invariant because each verdict depends
    only on the row and the frozen store. 'removed' is deliberately
    NOT on the wire — absence is a property of the complete snapshot,
    so it belongs to the batch diff (snapshot_diff_from_store) run at
    snapshot close."""
    from ..operators.versioning import snapshot_probe_from_store

    ensure_utc(spark)
    docs = file_replay_stream(spark, sf_dir, "documents")
    if transform is not None:
        docs = transform(docs)
    return run_probe_foreach_batch(
        docs,
        lambda batch: snapshot_probe_from_store(
            spark, prefix, batch, key_cols, content_cols))


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-agnostic existence check via the Hadoop FileSystem API
    (os.path would silently say False for s3://... on a cluster)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _hadoop_touch(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (any scheme)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    fs.create(hpath, True).close()


def cdc_default_job_id(spark: SparkSession, staging_dir: str) -> str:
    """Deterministic default job id for a CDC snapshot cycle, derived
    from the staging dir's FULLY-QUALIFIED Hadoop URI (ADVICE r13):
    hashing the raw string makes the id path-SPELLING-sensitive — a
    crash-restart of the same cycle that spells the path differently
    (trailing slash, relative vs absolute, scheme-qualified vs not)
    would derive a different id, replay committed epochs under fresh
    batch ids, and double-stage the same keys into the version cut.
    makeQualified resolves scheme, authority, working-dir-relative
    paths, and trailing slashes to one canonical spelling.

    MIGRATION (r14): the derivation changed from sha1(raw string) to
    sha1(qualified URI), so the SAME path spelling derives a
    DIFFERENT id across the upgrade. A cycle in flight across the
    upgrade must either finish (compact) before upgrading or pass
    its pre-upgrade id explicitly via ``job_id=`` on restart —
    otherwise replayed epochs would commit under fresh batch ids and
    double-stage their keys (the exact hazard the derivation exists
    to prevent). Fresh cycles need nothing."""
    import hashlib

    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(staging_dir)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    qualified = fs.makeQualified(hpath).toString()
    return "snapcdc-" + hashlib.sha1(qualified.encode()).hexdigest()[:8]


def snapshot_cdc_ingest_batch(spark: SparkSession, prefix: str,
                              staging_dir: str, batch_df: DataFrame,
                              batch_id: str, key_cols, content_cols,
                              verdict_sink: str | None = None) -> int:
    """Per-micro-batch body of the CDC snapshot-ingest loop (VERDICT
    r11 #6): probe the arriving candidate-snapshot slice against the
    frozen {prefix}_fps artifact for added/changed verdicts
    (operators/versioning.snapshot_probe_from_store — split-invariant
    per row), and STAGE the slice's fingerprints so the periodic
    compaction can see the complete candidate snapshot and close the
    'removed' gap that a per-slice probe structurally cannot.

    Exactly-once through the shared ledger step (sources/readers.py
    ledgered_append, idempotent-write mode): a committed re-delivery
    exits BEFORE paying the probe; both writes are per-batch directory
    overwrites (verdicts are a pure function of the slice and the
    frozen store), so a replayed epoch rewrites the same rows; the
    ledger commits LAST. Slices must partition the candidate
    snapshot's keys (two live batches sharing a key would stage
    conflicting fingerprints — same precondition as the contam-gram
    appends; epoch REPLAYS are deduped by the ledger and are fine).

    Returns the number of added/changed verdicts (0 for a replayed
    epoch)."""
    from ..operators.versioning import (fingerprint_snapshot,
                                        snapshot_probe_from_store)
    from ..sources.readers import ledgered_append

    def write() -> int:
        # a compacted staging dir is a CLOSED cycle: staging more
        # slices into it would pollute the next compact's "complete
        # candidate snapshot" union with the previous cycle's
        # leftovers (wrong removals) — the caller must rotate
        # staging_dir per cycle
        if _hadoop_path_exists(spark, f"{staging_dir}/_compacted"):
            raise ValueError(
                f"staging dir {staging_dir} was already compacted into "
                f"a version cut — rotate staging_dir (and "
                f"checkpoint_dir) per snapshot cycle; staging into a "
                f"closed cycle would corrupt the next compaction's "
                f"removal sweep")
        # a cycle whose compact already MATERIALIZED its removal sweep
        # (torn-state protocol) is closed to new slices even if the
        # compact crashed before the _compacted marker: a slice
        # staged now would be invisible to the already-computed
        # removed set and double-counted by the (idempotent) re-cut
        if _hadoop_path_exists(spark, f"{staging_dir}/_cut_pending"):
            raise ValueError(
                f"staging dir {staging_dir} has a compaction in flight "
                f"(_cut_pending) — re-run snapshot_cdc_compact to "
                f"finish the cycle, then rotate staging_dir for new "
                f"slices")
        batch = batch_df.persist()
        try:
            verdicts = snapshot_probe_from_store(
                spark, prefix, batch, key_cols, content_cols).persist()
            try:
                n = verdicts.count()
                if verdict_sink is not None:
                    (verdicts.write.mode("overwrite")
                     .parquet(f"{verdict_sink}/ingest_batch={batch_id}"))
            finally:
                verdicts.unpersist()
            (fingerprint_snapshot(batch, key_cols, content_cols)
             .write.mode("overwrite")
             .parquet(f"{staging_dir}/ingest_batch={batch_id}"))
            return n
        finally:
            batch.unpersist()

    return ledgered_append(spark, prefix, batch_id,
                           "snapshot_cdc_ingest_batch", write) or 0


def run_snapshot_cdc_ingest(candidate: DataFrame, prefix: str,
                            staging_dir: str, checkpoint_dir: str,
                            key_cols, content_cols,
                            verdict_sink: str | None = None,
                            job_id: str | None = None) -> None:
    """End-to-end streaming half of the CDC versioning loop (VERDICT
    r11 #6): candidate-snapshot slices arrive as a stream; each
    micro-batch emits added/changed verdicts against the frozen
    previous-version fingerprints AND stages its own fingerprints,
    under one exactly-once foreachBatch loop — the same composition
    run_dsir_ingest uses for score+select+append. The batch half
    (snapshot_cdc_compact) closes the loop with removals and the next
    version cut once the snapshot is complete.

    ``job_id`` defaults to a value DERIVED FROM ``staging_dir``
    (ADVICE r12): callers rotate staging/checkpoint per snapshot
    cycle, and each rotated checkpoint restarts epoch ids at 0 — a
    fixed job_id would make cycle 2's batch ids collide with cycle
    1's ledger entries, so every cycle-2 slice would be skipped as a
    "replay" (no probe, no staging, every key spuriously 'removed' at
    compact). The derivation is deterministic per staging_dir —
    hashed over the fully-QUALIFIED URI, not the raw spelling
    (cdc_default_job_id, ADVICE r13) — so a crash-restart of the
    SAME cycle still replays under the same ids (exactly-once
    preserved) even if the restart spells the path differently,
    while rotated cycles can never collide — even in a crash inside
    snapshot_cdc_compact's version cut."""
    spark = candidate.sparkSession
    if job_id is None:
        job_id = cdc_default_job_id(spark, staging_dir)
    run_ingest_foreach_batch(
        candidate, checkpoint_dir,
        lambda b, bid: snapshot_cdc_ingest_batch(
            spark, prefix, staging_dir, b, bid, key_cols, content_cols,
            verdict_sink),
        job_id=job_id)


def snapshot_cdc_compact(spark: SparkSession, prefix: str,
                         staging_dir: str, key_cols,
                         n_buckets: int = 8) -> DataFrame:
    """Periodic compaction closing the CDC 'removed' gap (VERDICT r11
    #6): once the candidate snapshot's slices have all streamed, the
    staged fingerprint union IS the complete candidate snapshot, so
    'removed' = keys of the stored {prefix}_fps with no staged row —
    the one verdict class absence makes invisible to per-slice
    probes. Emits exactly the diff's removed rows (key..., status,
    old_fp, new_fp=null), MATERIALIZED before the version cut (the
    cut invalidates the very table they derive from), then cuts the
    next version from the staged fingerprints (crash-atomic manifest
    bracket, content never reread — it was hashed on the wire).

    union(streamed added/changed, this) ≡ one-shot snapshot_diff of
    the two snapshots, including removals (test-asserted). The
    caller rotates staging_dir/checkpoint_dir per snapshot cycle,
    like any per-version landing zone: the next cycle's slices stage
    into a fresh directory and diff against the version cut here.
    Cost shape at 100 TB: the removal scan joins two hash-width
    fingerprint tables (no content), the removed set spills to a
    parquet sidecar under the staging dir (never through driver
    memory — a retired partition can drop billions of keys, ADVICE
    r12), and the cut is one bucketed write of rows that already
    exist on disk.

    The cut is this family's rebuild analog, so its build bracket
    CLEARS the append ledger: the new version IS the staged batches'
    union, so every ledgered id's data is contained in the cut — the
    provably-lossless ``includes_appends=True`` waiver. Without the
    clear, a next cycle whose batch ids collided would be silently
    skipped as replays. (Belt-and-suspenders: the default job_id also
    derives from the rotated staging_dir, so ids can't collide even
    if a crash lands inside the cut.)

    The compact also drops a ``_compacted`` marker into the staging
    dir: the cycle is closed, and any later stage or re-compact
    against the same landing zone refuses with the rotate-per-cycle
    remedy instead of corrupting the next removal sweep with the
    previous cycle's leftover slices.

    Torn-state protocol (ADVICE r13): a ``_cut_pending`` marker is
    written AFTER the removed sidecar and BEFORE the version cut. A
    crash inside the cut window (cut done, marker not yet) used to
    make a re-run recompute the diff against the ALREADY-CUT fps
    (now equal to staged → zero removals) and overwrite the correct
    sidecar — silently losing the cycle's removals in exactly the
    recovery path. With the marker, a re-run reuses the sidecar,
    re-runs the idempotent cut, and finishes ledger-clear + close;
    the ingest gate also refuses new slices once the marker exists.

    Return-value lifetime: the returned DataFrame reads LAZILY from
    the ``_removed`` sidecar under this staging dir — consume it (or
    copy it out) BEFORE snapshot_cdc_reclaim deletes the cycle, or
    the scan fails on the vanished files. The janitor's default
    keep_last=1 keeps the newest closed cycle for exactly this
    reason."""
    from ..operators.versioning import _cut_fps, _diff_fps

    keys = list(key_cols)
    if _hadoop_path_exists(spark, f"{staging_dir}/_compacted"):
        raise ValueError(
            f"staging dir {staging_dir} was already compacted — a "
            f"second compact of the same cycle would re-cut the "
            f"version from a closed landing zone; rotate staging_dir "
            f"per cycle")
    if not _hadoop_path_exists(spark, staging_dir):
        raise ValueError(
            f"staging dir {staging_dir} does not exist — no slices "
            f"have streamed this cycle (run_snapshot_cdc_ingest "
            f"stages them); compacting an empty cycle would report "
            f"every stored key as removed")
    staged = spark.read.parquet(staging_dir).select(*keys, "fp")
    removed_path = f"{staging_dir}/_removed"
    pending_path = f"{staging_dir}/_cut_pending"
    if _hadoop_path_exists(spark, pending_path):
        # torn-state recovery (ADVICE r13): a prior compact already
        # materialized the removed sidecar and entered the cut window
        # — the stored fps may ALREADY equal the staged fingerprints,
        # so recomputing the diff here would overwrite the correct
        # sidecar with an empty one and silently lose the cycle's
        # removal verdicts. Reuse the sidecar; the cut is idempotent
        # (same staged rows, manifest bracket, ledger cleared inside
        # it), so finishing it and the _compacted marker is safe
        # whether the crash hit before or after each of them.
        if not _hadoop_path_exists(spark, removed_path):
            raise ValueError(
                f"staging dir {staging_dir} has _cut_pending but no "
                f"_removed sidecar — the torn-state protocol writes "
                f"the sidecar first, so this landing zone was "
                f"tampered with; refuse rather than guess removals")
    else:
        removed_df = (_diff_fps(spark.table(f"{prefix}_fps"),
                                staged, keys)
                      .where(F.col("status") == "removed"))
        # materialize BEFORE the cut (the cut invalidates the very
        # table the removed set derives from); "_removed" is
        # underscore-prefixed so the staged-slice reader's directory
        # listing never picks it up
        removed_df.write.mode("overwrite").parquet(removed_path)
        # the pending marker brackets the cut: its presence on
        # re-entry means "sidecar is authoritative, fps may be cut"
        _hadoop_touch(spark, pending_path)
    _cut_fps(spark, prefix, staged, keys, n_buckets, includes_appends=True)
    # close the cycle: later stage/compact attempts against this
    # landing zone refuse instead of corrupting the next removal
    # sweep (underscore-prefixed, invisible to the staged-slice scan)
    _hadoop_touch(spark, f"{staging_dir}/_compacted")
    return spark.read.parquet(removed_path)


def snapshot_cdc_reclaim(spark: SparkSession, staging_root: str,
                         keep_last: int = 1,
                         dry_run: bool = False) -> dict:
    """Storage-lifecycle janitor for the CDC landing zones (VERDICT
    r13 stretch #7): callers rotate ``staging_dir`` per snapshot
    cycle under a common parent, and every CLOSED cycle leaves its
    whole tree behind — staged slices, the ``_removed`` sidecar, the
    ``_compacted`` marker. At 100 TB a daily-diff deployment retires
    a full fingerprint snapshot per day; without reclamation the
    landing zones grow without bound while serving nothing (the cut
    version lives in the ``{prefix}_fps`` catalog table, and the
    verdict sink is the caller's own artifact — neither is under the
    staging root).

    Scans the immediate children of ``staging_root`` and classifies
    each directory:

      closed    — has ``_compacted``: fully absorbed into a version
                  cut; safe to delete. The newest ``keep_last`` (by
                  marker modification time) are kept as the audit
                  window for the most recent cycles' removed
                  sidecars — and because snapshot_cdc_compact's
                  return value reads lazily from its cycle's
                  sidecar, reclaim only cycles whose removed set has
                  been consumed (keep_last=0 invalidates the newest
                  compact's unconsumed return).
      in_flight — has ``_cut_pending`` but not ``_compacted``: a
                  compact crashed mid-cut; NEVER deleted (the sidecar
                  is the only copy of the cycle's removals until the
                  re-run finishes the protocol).
      open      — no markers: the active cycle still staging slices;
                  NEVER deleted.

    Hadoop FileSystem API throughout (any scheme — the 100 TB
    deployment's landing zone is object storage, not a local disk).
    ``dry_run=True`` classifies and reports without deleting.
    Returns {"reclaimed": [...], "kept": [...], "in_flight": [...],
    "open": [...]} with fully-qualified child URIs, each list sorted.
    """
    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    sc = spark.sparkContext
    root = sc._jvm.org.apache.hadoop.fs.Path(staging_root)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(root):
        raise ValueError(
            f"staging root {staging_root} does not exist — nothing "
            f"to reclaim (did the cycles rotate under a different "
            f"parent?)")
    closed: list[tuple[int, str]] = []  # (marker mtime, uri)
    in_flight: list[str] = []
    open_: list[str] = []
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        child = st.getPath()
        uri = child.toString()
        marker = sc._jvm.org.apache.hadoop.fs.Path(uri + "/_compacted")
        pending = sc._jvm.org.apache.hadoop.fs.Path(
            uri + "/_cut_pending")
        if fs.exists(marker):
            closed.append(
                (int(fs.getFileStatus(marker).getModificationTime()),
                 uri))
        elif fs.exists(pending):
            in_flight.append(uri)
        else:
            open_.append(uri)
    closed.sort()  # oldest first; ties break on the uri
    cut = len(closed) - keep_last
    reclaim = [uri for _, uri in closed[:max(cut, 0)]]
    kept = [uri for _, uri in closed[max(cut, 0):]]
    if not dry_run:
        for uri in reclaim:
            fs.delete(sc._jvm.org.apache.hadoop.fs.Path(uri), True)
    return {"reclaimed": sorted(reclaim), "kept": sorted(kept),
            "in_flight": sorted(in_flight), "open": sorted(open_)}


def ann_filtered_probe_stream(spark: SparkSession, sf_dir: str,
                              prefix: str, predicate, k: int,
                              nprobe: int = 8,
                              query_pred=None) -> DataFrame:
    """Streaming filtered vector search over the STORED IVFADC index
    (VERDICT r7 #4): query vectors replay as a stream; each
    micro-batch routes against the stored coarse centroids and
    ADC-ranks only the probed cell partitions with the metadata
    predicate pushed into the scan
    (operators/similarity.ivfpq_topk_filtered_from_index). Per-query
    top-k is independent of every other query, so the drained union
    equals the one-shot batch search under any micro-batch split.
    ``query_pred``: optional Column selecting the query subset from
    the replayed embeddings."""
    from ..operators.similarity import ivfpq_topk_filtered_from_index

    ensure_utc(spark)
    embs = file_replay_stream(spark, sf_dir, "embeddings")
    if query_pred is not None:
        embs = embs.where(query_pred)
    return run_probe_foreach_batch(
        embs,
        lambda batch: ivfpq_topk_filtered_from_index(
            spark, prefix, batch, k, predicate, nprobe=nprobe))


def dsir_score_stream(spark: SparkSession, sf_dir: str,
                      prefix_raw: str, prefix_tgt: str,
                      doc_pred=None) -> DataFrame:
    """Streaming DSIR scoring against the STORED raw/target LMs:
    arriving documents replay as a stream and each micro-batch runs
    the probe-only importance weighting
    (operators/text.dsir_weights_from_models) against the frozen LM
    artifacts — (doc_id, n_bigrams, logw) per document. Scoring is
    stateless per document given the frozen LMs, so the drained
    union equals the one-shot batch weighting under any micro-batch
    split (test-asserted) — the shape of a selection service scoring
    a firehose against periodically refreshed LM versions.
    ``doc_pred``: optional Column filtering the replayed docs."""
    from ..operators.text import dsir_weights_from_models, lm_read_model

    ensure_utc(spark)
    docs = file_replay_stream(spark, sf_dir, "documents")
    if doc_pred is not None:
        docs = docs.where(doc_pred)
    model_r = lm_read_model(spark, prefix_raw)
    model_t = lm_read_model(spark, prefix_tgt)
    return run_probe_foreach_batch(
        docs,
        lambda batch: dsir_weights_from_models(model_r, model_t, batch))


def tx_interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 streaming: stream-stream interval join with watermarks
    (TxPayMatchByJoin.java:63-93). Spark's native stream-stream inner
    join + time-band predicate is the exact analogue: both sides keep
    watermark-bounded state, matches emit as they arrive."""
    lo_s, hi_s = -12 * 3600, 12 * 3600
    ev = stream_events(spark, sf_dir, watermark=None)
    ev = ev.withColumn(
        "item_id", F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")
    )
    pays = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "item_id", F.col("ts").alias("pay_ts"))
        .withWatermark("pay_ts", "0 seconds")
    )
    receipts = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("item_id").alias("r_item_id"),
            F.col("ts").alias("receipt_ts"),
        )
        .withWatermark("receipt_ts", "0 seconds")
    )
    joined = pays.join(
        receipts,
        F.expr(
            f"user_id = r_user_id AND item_id = r_item_id "
            f"AND receipt_ts >= pay_ts + INTERVAL {lo_s} SECONDS "
            f"AND receipt_ts <= pay_ts + INTERVAL {hi_s} SECONDS"
        ),
        "inner",
    )
    return joined.select(
        "user_id", "item_id",
        F.unix_micros("pay_ts").alias("pay_us"),
        F.unix_micros("receipt_ts").alias("receipt_us"),
    )


# ----------------------------------------------------------------- runner

def run_available_now(
    sdf: DataFrame, output_mode: str = "complete", query_name: str | None = None
) -> DataFrame:
    """Drain a bounded stream (trigger availableNow) into a memory sink
    and return the materialized result table — S5 print-sink analogue
    that tests can assert on."""
    name = query_name or f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def run_with_late_channel(
    raw_sdf: DataFrame,
    delay_seconds: float,
    compute,
    ts_col: str = "ts",
) -> dict[str, DataFrame]:
    """Late-row side channel (reference HotPage.java:66,76-77: elements
    later than watermark+allowedLateness go to a side output; SURVEY
    section 4 flags this as custom work — Spark drops late rows
    silently, so the side channel has to be built at the source).

    Drains a bounded RAW stream via foreachBatch, reproducing Spark's
    watermark rule on the driver: the watermark for batch N is
    max(event time through batch N-1) - delay. Rows of batch N with
    ts < watermark are routed to the ``late`` leg; on-time rows feed
    ``compute`` (a batch-DataFrame -> DataFrame query) for the
    ``result`` leg — so the main result is exactly the batch recompute
    over the rows a watermarked streaming agg would have accepted,
    and nothing is silently dropped.

    TEST-ONLY HARNESS (VERDICT r8): per-batch rows are collected to
    the driver, which is fine for bounded replays in tests and
    unbounded nowhere. The production twin is
    ``run_with_late_channel_to_parquet`` below — identical routing,
    both legs appended to parquet sinks inside foreachBatch, zero
    driver-side row state.
    """
    spark = raw_sdf.sparkSession
    delay_us = int(delay_seconds * 1_000_000)
    holder: dict = {"wm_us": None, "late": [], "on_time": [],
                    "schema": raw_sdf.schema}

    def _split(batch_df: DataFrame, _bid: int) -> None:
        wm = holder["wm_us"]
        ts_us = F.unix_micros(F.col(ts_col))
        if wm is None:
            late_rows, ontime = [], batch_df
        else:
            late_rows = batch_df.where(ts_us < F.lit(wm)).collect()
            ontime = batch_df.where(ts_us >= F.lit(wm))
        ontime_rows = ontime.collect()
        holder["late"].extend(late_rows)
        holder["on_time"].extend(ontime_rows)
        mx = batch_df.agg(F.max(ts_us)).first()[0]
        if mx is not None:
            new_wm = mx - delay_us
            holder["wm_us"] = new_wm if wm is None else max(wm, new_wm)

    q = (
        raw_sdf.writeStream.outputMode("append")
        .foreachBatch(_split)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    on_time_df = spark.createDataFrame(holder["on_time"], holder["schema"])
    late_df = spark.createDataFrame(holder["late"], holder["schema"])
    return {"result": compute(on_time_df), "late": late_df}


def run_topn_foreach_batch(
    counts_sdf: DataFrame,
    n: int,
    order_cols,
    partition_cols=("window_end_us",),
    query_name: str | None = None,
) -> DataFrame:
    """T1/T2 streaming: rank per window inside foreachBatch.

    complete-mode batches carry the full upserted count state, so the
    per-batch rank is late-update-safe exactly like HotPage's MapState
    upsert + re-fire (HotPage.java:160). The last batch's ranking is
    the final answer on a bounded replay; unbounded runs would upsert
    into a keyed sink instead (engine convention, SURVEY section 7b/e).
    """
    spark = counts_sdf.sparkSession
    holder: dict = {}

    def _rank(batch_df: DataFrame, _bid: int) -> None:
        ranked = top_n_per_window(
            batch_df, n, partition_cols=partition_cols,
            order_cols=order_cols, rank_alias="rnk",
        )
        # materialize: the micro-batch plan dies with the query
        holder["rows"] = ranked.collect()
        holder["schema"] = ranked.schema

    q = (
        counts_sdf.writeStream.outputMode("complete")
        .foreachBatch(_rank)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(holder["rows"], holder["schema"])


def run_with_late_channel_to_parquet(
    raw_sdf: DataFrame,
    delay_seconds: float,
    out_dir: str,
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
) -> dict[str, str]:
    """PRODUCTION form of run_with_late_channel (reference
    HotPage.java:66,76-77 side output): per micro-batch, rows are
    routed — late leg vs on-time leg against the running watermark —
    and APPENDED to two parquet sinks from inside foreachBatch.  No
    row ever reaches the driver; the only driver-side state is the
    watermark scalar (one max() aggregate per batch — the same
    bookkeeping Spark's own WatermarkTracker keeps).  The main
    computation then runs over the on-time parquet as a batch or
    follow-on streaming stage (kept outside this function: the sink
    is the handoff point, exactly like the reference's side-output
    tag splitting a pipeline).

    Returns {"on_time": path, "late": path}.

    Restart semantics (ADVICE r4): each leg is partitioned by the
    micro-batch id and written with DYNAMIC partition overwrite, so a
    replayed batch overwrites exactly its own ``_bid=<id>`` partition
    instead of re-appending — effectively-once rows per batch when
    ``checkpoint_dir`` is set. The running watermark is NOT
    driver-memory-only: on (re)start it is rebuilt from the sink
    itself — max event ts across both legs minus the delay — which
    dominates the pre-crash watermark because every processed batch's
    rows live in the sink. A replayed batch may therefore route
    against a watermark >= the one it originally saw; that is within
    the watermark contract (the watermark is a lower bound — any row
    below it MAY be routed late), and routing inside one batch stays
    deterministic. Readers should ignore the ``_bid`` partition
    column.
    """
    import os

    spark = raw_sdf.sparkSession
    on_time_path = os.path.join(out_dir, "on_time")
    late_path = os.path.join(out_dir, "late")
    delay_us = int(delay_seconds * 1_000_000)

    def _sink_max_ts_us(path: str):
        try:
            df = spark.read.parquet(path)
        except Exception:
            return None  # first run: sink doesn't exist yet
        if ts_col not in df.columns:
            return None
        return df.agg(F.max(F.unix_micros(F.col(ts_col)))).first()[0]

    prior = [m for m in (_sink_max_ts_us(on_time_path),
                         _sink_max_ts_us(late_path)) if m is not None]
    holder: dict = {"wm_us": max(prior) - delay_us if prior else None}

    def _route(batch_df: DataFrame, bid: int) -> None:
        wm = holder["wm_us"]
        ts_us = F.unix_micros(F.col(ts_col))
        if wm is None:
            ontime, late = batch_df, batch_df.limit(0)
        else:
            late = batch_df.where(ts_us < F.lit(wm))
            ontime = batch_df.where(ts_us >= F.lit(wm))
        # write each leg DIRECTLY into its _bid=<id> partition
        # directory with overwrite — not partitionBy + dynamic
        # overwrite, which only replaces partitions PRESENT IN THE
        # OUTPUT: a replayed batch whose re-routing leaves one leg
        # empty would then keep that leg's stale rows and the batch
        # would exist in both legs at once. A direct overwrite
        # replaces the partition even with an empty frame (schema-only
        # parquet), so a replay always fully supersedes both legs.
        # Hive-style dir names keep _bid a discoverable partition
        # column for readers (who ignore it).
        for leg, path in ((ontime, on_time_path), (late, late_path)):
            (leg.write.mode("overwrite")
             .parquet(os.path.join(path, f"_bid={int(bid)}")))
        mx = batch_df.agg(F.max(ts_us)).first()[0]
        if mx is not None:
            new_wm = mx - delay_us
            holder["wm_us"] = new_wm if wm is None else max(wm, new_wm)

    w = (raw_sdf.writeStream.outputMode("append")
         .foreachBatch(_route)
         .trigger(availableNow=True))
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination()
    return {"on_time": on_time_path, "late": late_path}


def run_topn_to_parquet(
    counts_sdf: DataFrame,
    n: int,
    order_cols,
    out_dir: str,
    partition_cols=("window_end_us",),
    checkpoint_dir: str | None = None,
) -> str:
    """PRODUCTION T1/T2 sink: per complete-mode batch, the re-ranked
    top-N is UPSERTED into a parquet table partitioned by window —
    dynamic partition overwrite replaces exactly the window
    partitions present in the batch (a late count update re-fires
    its window and overwrites just that partition, matching
    HotPage's MapState upsert + re-emit at HotPage.java:160), and
    closed windows' partitions are left untouched.  No driver
    collect anywhere; readers see each window's latest ranking.

    Returns the sink path.  The harness twin run_topn_foreach_batch
    (driver collect) remains test-only.
    """
    holder: dict = {}

    def _rank(batch_df: DataFrame, _bid: int) -> None:
        ranked = top_n_per_window(
            batch_df, n, partition_cols=partition_cols,
            order_cols=order_cols, rank_alias="rnk",
        )
        (ranked.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*partition_cols)
         .parquet(out_dir))
        holder["wrote"] = True

    w = (counts_sdf.writeStream.outputMode("complete")
         .foreachBatch(_rank)
         .trigger(availableNow=True))
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination()
    return out_dir


# Discoverable registry of the streaming twins: name -> builder taking
# (spark, sf_dir) and returning an unstarted streaming DataFrame (run
# with run_available_now for the bounded-replay form the equivalence
# tests use, or writeStream with your own sink/trigger unbounded).
# Stateful machines (consecutive fails, cap filter, reconcile, order
# timeout) live in streaming.stateful and wrap the same stream_events
# source; they are registered here through their module entrypoints.
STREAMING_QUERIES = {
    "hot_items_counts": hot_items_counts_stream,
    "page_views": page_views_stream,
    "unique_visitors": unique_visitors_stream,
    "marketing_by_channel": marketing_by_channel_stream,
    "sessionize": sessionize_stream,
    "exact_dedup": exact_dedup_stream,
    "curation": curation_stream,
    "tx_interval_join": tx_interval_join_stream,
    "funnel_step_events": funnel_step_events_stream,
    "user_weeks": user_week_stream,
    "user_days": user_day_stream,
    "props_counts": props_counts_stream,
}
