"""Sources: parquet testdata loader, reference-shaped CSV readers,
apache-log parser, generator source, gated Kafka connector.

Reference parity (SURVEY.md section 2.1/2.2):
- S1 kafka source   -> kafka_source() (gated: jar not in container)
- S2 text file      -> read_*_csv() batch readers with fixed schemas
- P1 csv parse map  -> csv reader + timestamp_seconds normalization
  (reference: HotItem.java:57-61 split(",") + x1000 in extractor)
- P2 apache log map -> parse_apache_log()
  (reference: HotPage.java:50-54 split(" ") + SimpleDateFormat)
- S3 generator      -> marketing_generator_stream()
  (reference: AppMarketingByChannel.java:65-97 random source, 10 ev/s)

All readers produce an event-time column ``ts: TimestampType`` so
every downstream operator is source-agnostic. Filters and projections
applied after these readers push down into the scan (verified via
explain(): PushedFilters / ReadSchema on parquet).

Stored-artifact lifecycle. Every stored family (bm25, lm, minhash,
spans, contamination grams, pq, ivfpq, semdedup, snapshot
fingerprints, the bucketed Q9 tables) builds, appends and compacts
through the functions at the end of this module; the family code
keeps only how it derives and probes its ``{prefix}_*`` tables.

- Commit. An index is COMMITTED iff ``{prefix}_manifest`` exists and
  every table it lists exists (index_ready); gated readers rebuild
  otherwise. build_index writes in this order: invalidate the
  manifest, clear the append ledger, write the artifact tables, write
  the manifest LAST. A crash anywhere inside reads as not-ready, never
  as a half or mixed-generation index. Work that writes nothing (a
  driver-side fit) runs before the bracket opens, so the not-ready
  window covers only the writes.
- Append. The ledger ``{prefix}_appends`` makes appends exactly-once
  on at-least-once delivery (ledgered_append): a committed batch id is
  skipped, a new id is refused while a rebuild's discarded ids are
  quarantined (require_appendable), and the id is recorded only AFTER
  the data. A crash between data and ledger re-runs the batch, which
  is safe under exactly one of two recovery modes:
  1. idempotent write (partitioned_append, ledgered_append): the batch
     lands in its own ``(cell, _batch)`` partitions or directory, and a
     retry overwrites them instead of duplicating them;
  2. manifest bracket (transactional_append): the append runs between
     invalidation and recommit, so a crash leaves the index not-ready,
     the gated reader rebuilds from source, and the rebuild clears the
     ledger.
- Ledger rule. A rebuild CLEARS the ledger: its generation holds only
  the source corpus, so the dropped ids are quarantined until
  re-delivered or waived (clear_append_ledger). A compaction KEEPS
  it: it absorbs the batches' rows, so their ids must keep
  deduplicating re-delivery (compact_index).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .. import schemas


# --------------------------------------------------------------- testdata

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (parquet, columnar, pushdown-able).

    ``events.ts`` is physically TIMESTAMP(NANOS) which Spark's parquet
    reader rejects; read it as raw nanos (legacy.parquet.nanosAsLong)
    and truncate to microsecond TimestampType — bit-identical to what
    DuckDB's reader produces for the same file (it truncates ns -> us),
    so oracle comparisons agree. Integer `div`, never double division:
    epoch-nanos exceed 2^53.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        # nanosAsLong only fires for physical TIMESTAMP(NANOS); files
        # written with micro precision (e.g. tools/make_scale.py output)
        # need no truncation — only NTZ->TZ normalization (identity on
        # values with the session pinned to UTC)
        if isinstance(raw.schema["ts"].dataType, LongType):
            raw = raw.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        else:
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or schemas.TESTDATA_TABLES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for n in schemas.TESTDATA_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------- reference-shaped CSVs

def _csv(spark: SparkSession, path: str, schema) -> DataFrame:
    return spark.read.csv(path, schema=schema, header=False)


def read_user_behavior_csv(spark: SparkSession, path: str) -> DataFrame:
    """UserBehavior.csv: userId,itemId,categoryId,behavior,ts(sec)."""
    return _csv(spark, path, schemas.USER_BEHAVIOR_RAW).withColumn(
        "ts", F.timestamp_seconds("ts_sec")
    )


def read_login_log_csv(spark: SparkSession, path: str) -> DataFrame:
    """LoginLog.csv: userId,ip,loginState,ts(sec)."""
    return _csv(spark, path, schemas.LOGIN_EVENT_RAW).withColumn(
        "ts", F.timestamp_seconds("ts_sec")
    )


def read_order_log_csv(spark: SparkSession, path: str) -> DataFrame:
    """OrderLog.csv: orderId,eventType,txId,ts(sec); txId empty on create."""
    df = _csv(spark, path, schemas.ORDER_EVENT_RAW)
    return df.withColumn("ts", F.timestamp_seconds("ts_sec")).withColumn(
        "tx_id", F.coalesce(F.col("tx_id"), F.lit(""))
    )


def read_receipt_log_csv(spark: SparkSession, path: str) -> DataFrame:
    """ReceiptLog.csv: txId,payChannel,ts(sec)."""
    return _csv(spark, path, schemas.RECEIPT_EVENT_RAW).withColumn(
        "ts", F.timestamp_seconds("ts_sec")
    )


def read_ad_click_log_csv(spark: SparkSession, path: str) -> DataFrame:
    """AdClickLog.csv: userId,adId,province,city,ts(sec)."""
    return _csv(spark, path, schemas.AD_CLICK_EVENT_RAW).withColumn(
        "ts", F.timestamp_seconds("ts_sec")
    )


def parse_apache_log(spark: SparkSession, path: str) -> DataFrame:
    """apache.log: `ip - userId dd/MM/yyyy:HH:mm:ss +tz method url`.

    Reference parse: HotPage.java:50-54 (split on space, fields 0/3/5/6,
    SimpleDateFormat dd/MM/yyyy:HH:mm:ss). Pure column expressions —
    stays inside whole-stage codegen.
    """
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), " ")
    return raw.select(
        parts.getItem(0).alias("ip"),
        F.lit(0).cast("long").alias("user_id"),
        F.to_timestamp(parts.getItem(3), "dd/MM/yyyy:HH:mm:ss").alias("ts"),
        parts.getItem(5).alias("method"),
        parts.getItem(6).alias("url"),
    ).where(F.col("ts").isNotNull())


# ----------------------------------------------------------------- streams

def marketing_generator_stream(
    spark: SparkSession, rows_per_second: int = 10
) -> DataFrame:
    """Synthetic marketing-behavior stream (reference S3 generator,
    AppMarketingByChannel.java:65-97: random user/behavior/channel at
    ~10 ev/s, wall-clock timestamps).

    Built on the rate source + column exprs — no Python in the stream.
    """
    behaviors = ["CLICK", "DOWNLOAD", "INSTALL", "UNINSTALL"]
    channels = ["app store", "wechat", "weibo", "browser"]
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", str(rows_per_second)
    ).load()
    return rate.select(
        (F.floor(F.rand() * 1_000_000)).cast("long").alias("user_id"),
        F.element_at(
            F.array(*[F.lit(b) for b in behaviors]),
            (F.floor(F.rand() * len(behaviors)) + 1).cast("int"),
        ).alias("behavior"),
        F.element_at(
            F.array(*[F.lit(c) for c in channels]),
            (F.floor(F.rand() * len(channels)) + 1).cast("int"),
        ).alias("channel"),
        F.col("timestamp").alias("ts"),
    )


def file_replay_stream(
    spark: SparkSession, sf_dir: str, name: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Replay a testdata parquet table as a bounded stream (reference S2
    readTextFile-as-stream; with trigger availableNow this drains the
    whole table and stops — used for streaming==batch equivalence tests).

    ``events.ts`` needs the same nanos->micros normalization as the
    batch reader: the stream schema must describe the RAW file (int64
    nanos under nanosAsLong), with the cast applied on top, or the
    parquet reader rejects the TIMESTAMP(NANOS) column.

    The trailing ``parque[t]`` glob is deliberate: FileStreamSource
    insists on a directory/glob path ("Option 'basePath' must be a
    directory" on a plain file); a one-character glob makes it list
    the single file without any temp-dir staging.
    """
    glob_path = f"{sf_dir}/{name}.parque[t]"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw_schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        raw = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(glob_path)
        )
        # mirror load_table: only a physically-nanos file reads as int64
        # and needs truncation; a micro-precision rewrite (e.g.
        # tools/make_scale.py output) arrives as TimestampType already
        if isinstance(raw_schema["ts"].dataType, LongType):
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    batch = load_table(spark, sf_dir, name)
    return (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(glob_path)
    )


def kafka_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka-0-10 connector is on the session's
    JVM classpath (public Maven coordinates
    org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version> — add
    via --packages on a real cluster). The end-to-end integration test
    (tests/test_kafka_integration.py) keys off this and a broker env
    var, skipping cleanly offline."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # pragma: no cover - env-dependent
        return False


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka CSV-line source (reference S1, HotItem.java:46-54).

    The spark-sql-kafka jar is not in this container; raise a clear
    error rather than failing deep inside the plan.
    """
    try:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
            .select(F.col("value").cast("string").alias("value"))
        )
    except Exception as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "kafka connector jar (spark-sql-kafka-0-10) not on classpath "
            "in this environment; add it via --packages on a real cluster"
        ) from exc


def write_bucketed(df: DataFrame, table: str,
                   bucket_col: str | list[str],
                   n_buckets: int = 8,
                   sort_col: str | list[str] | None = None) -> None:
    """Materialize a DataFrame as a BUCKETED (and optionally
    sorted-within-bucket) managed table — the co-located-join
    preparation step for fact-to-fact joins at 100 TB: two tables
    bucketed on their join key with the same bucket count hash-agree
    partition-for-partition, so Catalyst plans their equi-join with
    ZERO Exchange on either side (verified by
    tests/test_bucketed_join.py, which asserts the shuffle-free plan
    and result parity vs the plain join). Sorting within buckets
    additionally removes the Sort from sort-merge joins.

    ``bucket_col``/``sort_col`` accept a list for COMPOUND keys
    (e.g. the Q9-shape lineitem⋈costs join on (partkey, suppkey));
    the exchange-free property then requires the join condition to
    cover the full bucket key in the same column order on both
    sides.

    Spark bucketing requires saveAsTable (bucket metadata lives in
    the catalog); the table lands in the session's warehouse dir.
    """
    bcols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bcols)
    if sort_col is not None:
        scols = [sort_col] if isinstance(sort_col, str) else list(sort_col)
        w = w.sortBy(*scols)
    save_as_table(w.format("parquet"), table)


def overwrite_table(df: DataFrame, table: str,
                    partition_cols: tuple[str, ...] = ()) -> None:
    """Materialize ``df`` as a managed parquet table (optionally
    partitioned), replacing any previous generation — the unbucketed
    sibling of write_bucketed."""
    w = df.write.mode("overwrite").format("parquet")
    save_as_table(w.partitionBy(*partition_cols) if partition_cols else w,
                  table)


def table_num_buckets(spark, table: str) -> int | None:
    """Bucket count of a catalog table (None if unbucketed) — read
    from the catalog so an APPEND can reuse the exact spec the
    build wrote instead of trusting a hyperparameter to match (a
    mismatched bucketBy on append is a catalog error; a silently
    different one would be worse).

    Primary source is DESCRIBE EXTENDED's ``Num Buckets`` row; since
    that is human-readable output a Spark version could reformat
    (ADVICE r7), fall back to parsing SHOW CREATE TABLE's
    ``CLUSTERED BY (...) INTO n BUCKETS`` clause before concluding
    the table is unbucketed. A unit test pins both parses against
    the running Spark version (tests/test_stored_atomicity.py)."""
    import re

    for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
        if r.col_name == "Num Buckets":
            try:
                return int(r.data_type)
            except (TypeError, ValueError):
                break
    try:
        ddl = spark.sql(f"SHOW CREATE TABLE {table}").collect()[0][0]
    except Exception:  # noqa: BLE001 — fallback only; primary already missed
        return None
    m = re.search(r"CLUSTERED BY\s*\(.*?\)\s*INTO\s+(\d+)\s+BUCKETS",
                  ddl, re.IGNORECASE | re.DOTALL)
    return int(m.group(1)) if m else None


def save_as_table(writer, table: str) -> None:
    """``saveAsTable`` that survives an orphaned warehouse location.

    mode("overwrite") only overwrites tables the CATALOG knows about;
    when a previous process wrote the table and this process's
    in-memory catalog starts empty, the on-disk directory is an
    orphan and Spark refuses to create a managed table over it
    (LOCATION_ALREADY_EXISTS). Under overwrite semantics that orphan
    is garbage by definition — remove it and retry once. Anything
    else re-raises.
    """
    import os
    import re
    import shutil

    from pyspark.sql import SparkSession

    try:
        writer.saveAsTable(table)
    except Exception as exc:  # noqa: BLE001 — filtered by error class below
        msg = str(exc)
        m = re.search(r"location 'file:([^']+)' already exists", msg)
        if "LOCATION_ALREADY_EXISTS" not in msg or m is None:
            raise
        # containment check (ADVICE r5): only ever delete a path that
        # resolves INSIDE the session's warehouse dir — a message-shape
        # change or user-pointed warehouse must not become an arbitrary
        # delete
        orphan = os.path.realpath(m.group(1))
        spark = SparkSession.getActiveSession()
        wh = spark.conf.get("spark.sql.warehouse.dir", "") if spark else ""
        wh = os.path.realpath(re.sub(r"^file:(//)?", "", wh)) if wh else ""
        if not wh or not orphan.startswith(wh + os.sep):
            raise
        shutil.rmtree(orphan, ignore_errors=True)
        writer.saveAsTable(table)


def write_manifest(spark, prefix: str, artifacts: list[str]) -> str:
    """Commit marker of a stored index (module docstring): written
    LAST, listing every artifact table of the generation. One tiny
    parquet table; at cluster scale the same role is played by a
    _SUCCESS marker or a transactional catalog commit."""
    overwrite_table(spark.createDataFrame([(a,) for a in artifacts],
                                          "artifact STRING"),
                    f"{prefix}_manifest")
    return f"{prefix}_manifest"


def invalidate_manifest(spark, prefix: str) -> None:
    """Open the bracket: drop ``{prefix}_manifest`` BEFORE any artifact
    table is rewritten, so a crash mid-rewrite reads as not-ready
    instead of the old manifest vouching for a mixed generation.

    Also uncaches every cached plan that reads a ``{prefix}_*`` table.
    saveAsTable(overwrite) drops the catalog entry, writes the files,
    and re-caches every cached plan over that path BEFORE it re-creates
    the entry; a plan over a PARTITIONED table lists its partitions
    through the catalog, so that re-cache fails with
    TABLE_OR_VIEW_NOT_FOUND and aborts the rewrite (a persisted ANN
    certificate probe over the ivfpq codes table did exactly this on
    rebuild). Uncached, those plans re-read the new generation when
    next used."""
    for r in spark.sql("SHOW TABLES").collect():
        if not r.isTemporary and r.tableName.startswith(f"{prefix}_"):
            spark.catalog.uncacheTable(r.tableName)
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_manifest")


def index_ready(spark, prefix: str) -> bool:
    """True iff ``{prefix}_manifest`` exists AND every artifact table
    it lists exists. Covers both failure shapes: a crash before the
    manifest write (manifest missing) and an artifact dropped after a
    successful build (manifest lists a table the catalog lost)."""
    if not spark.catalog.tableExists(f"{prefix}_manifest"):
        return False
    listed = [r.artifact
              for r in spark.table(f"{prefix}_manifest").collect()]
    return all(spark.catalog.tableExists(t) for t in listed)


def _batch_ids(spark, table: str) -> list[str]:
    """Sorted distinct ``batch_id`` values of a ledger-shaped table
    (empty when the table does not exist)."""
    if not spark.catalog.tableExists(table):
        return []
    return sorted(r.batch_id for r in spark.table(table)
                  .select("batch_id").distinct().collect())


def clear_append_ledger(spark, prefix: str,
                        includes_appends: bool = False) -> list[str]:
    """Drop ``{prefix}_appends`` for a rebuild (build_index does this
    inside its bracket; compaction never does — module docstring) and
    return the cleared batch ids.

    A rebuild DISCARDS every committed batch whose rows are not in its
    source corpus, so the cleared ids are QUARANTINED in
    ``{prefix}_cleared`` (written BEFORE the ledger drop, so a crash
    between the two can only over-quarantine, never lose the record);
    every later append of a NEW batch id refuses via
    ``require_appendable`` until each quarantined id is either
    re-delivered (its re-append puts it back in the ledger, which lifts
    it out of pending automatically) or waived with
    ``acknowledge_cleared``. No batch can be silently dropped AND no
    loss can be silently built past.

    ``includes_appends=True`` is the caller's assertion that the
    rebuild's source corpus CONTAINS every appended batch's rows (the
    rebuild-from-absorbed-corpus flow): the cleared ids are then waived
    inline instead of quarantined. A lying caller launders loss, which
    is why the default stays False."""
    import logging

    cleared = _batch_ids(spark, f"{prefix}_appends")
    if cleared and includes_appends:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_appends")
        logging.getLogger(__name__).info(
            "%s: rebuild cleared %d committed append batch(es) %s — "
            "waived inline (caller asserted the rebuild source "
            "includes their rows)", prefix, len(cleared), cleared)
        return cleared
    if cleared:
        spark.createDataFrame([(b,) for b in cleared],
                              "batch_id STRING") \
            .write.mode("append").format("parquet") \
            .saveAsTable(f"{prefix}_cleared")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_appends")
    if cleared:
        logging.getLogger(__name__).warning(
            "%s: rebuild cleared %d committed append batch(es) %s — "
            "quarantined in %s_cleared; new appends refuse until each "
            "is re-delivered or acknowledge_cleared() waives it",
            prefix, len(cleared), cleared, prefix)
    return cleared


class QuarantinedBatchesError(RuntimeError):
    """New appends are refused because a rebuild cleared committed
    batches that have been neither re-delivered nor waived. Carries
    ``prefix`` and the ``pending`` ids so an orchestrator can requeue
    exactly those batches (or call ``acknowledge_cleared``)."""

    def __init__(self, prefix: str, pending: list[str], caller: str):
        self.prefix = prefix
        self.pending = sorted(pending)
        super().__init__(
            f"{caller}: {prefix} has {len(pending)} quarantined "
            f"batch(es) {self.pending} whose data a rebuild discarded "
            f"— re-deliver them (append under the same batch_id) or "
            f"waive with acknowledge_cleared() before committing new "
            f"batches")


def quarantined_batch_ids(spark, prefix: str) -> list[str]:
    """Batch ids a rebuild discarded that are still PENDING: in
    ``{prefix}_cleared`` but absent from the current append ledger.
    Subtracting the ledger makes re-delivery self-healing — the
    moment a quarantined id's re-append commits (record_append), it
    stops pending with no extra bookkeeping write, and a crash between
    the data write and any cleanup cannot strand it."""
    committed = set(_batch_ids(spark, f"{prefix}_appends"))
    return [b for b in _batch_ids(spark, f"{prefix}_cleared")
            if b not in committed]


def acknowledge_cleared(spark, prefix: str,
                        batch_ids: list[str] | None = None) -> list[str]:
    """Explicitly waive quarantined batch ids (all of them when
    ``batch_ids`` is None): the orchestrator asserts the rebuild's
    source corpus already covered those batches' rows, so nothing was
    lost and re-delivery is unnecessary. Physically removes the ids
    from ``{prefix}_cleared`` (a waiver must survive later rebuilds,
    which would otherwise re-quarantine ledger ids they clear).
    Returns the ids actually removed."""
    t = f"{prefix}_cleared"
    present = _batch_ids(spark, t)
    if not present:
        return []
    waived = present if batch_ids is None else \
        [b for b in present if b in set(batch_ids)]
    remaining = [b for b in present if b not in set(waived)]
    if not remaining:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    elif waived:
        # tiny O(#batches) rewrite via a driver-side list — the ids
        # were already collected above, so no self-read-overwrite
        spark.createDataFrame([(b,) for b in remaining],
                              "batch_id STRING") \
            .write.mode("overwrite").format("parquet").saveAsTable(t)
    return waived


def require_appendable(spark, prefix: str, batch_id: str | None,
                       caller: str) -> None:
    """Refuse to commit a NEW batch while quarantined (rebuild-
    discarded, un-redelivered, un-waived) ids are pending — silently
    building past a known loss would launder it into the index's
    history. A pending id itself IS allowed through: that is the
    re-delivery path that drains the quarantine. ``batch_id=None``
    (ad-hoc at-least-once append) counts as a new commit."""
    pending = quarantined_batch_ids(spark, prefix)
    if pending and (batch_id is None or batch_id not in set(pending)):
        raise QuarantinedBatchesError(prefix, pending, caller)


def append_recorded(spark, prefix: str, batch_id: str) -> bool:
    """True iff ``batch_id`` is already committed in the index's
    append ledger ``{prefix}_appends`` — the dedupe check that makes
    re-delivered ingestion batches a no-op (exactly-once appends on
    top of at-least-once delivery)."""
    if not spark.catalog.tableExists(f"{prefix}_appends"):
        return False
    return bool(spark.table(f"{prefix}_appends")
                .where(F.col("batch_id") == batch_id).limit(1).count())


def record_append(spark, prefix: str, batch_id: str) -> None:
    """Commit ``batch_id`` to the append ledger, AFTER the data write
    (marker-last; the two recovery modes that make the retry safe are
    in the module docstring)."""
    spark.createDataFrame([(batch_id,)], "batch_id STRING") \
        .write.mode("append").format("parquet") \
        .saveAsTable(f"{prefix}_appends")


def require_index_ready(spark, prefix: str, caller: str) -> None:
    """Gate every append on a COMMITTED index: appending onto a
    torn-rebuild index (artifacts present, manifest missing) would
    report success, record the ledger, and then lose the batch
    forever when the gated reader rebuilds — with upstream believing
    it delivered."""
    if not index_ready(spark, prefix):
        raise ValueError(f"{caller}: {prefix} is not a committed "
                         f"index — build it first")


def require_bucket_count(spark, table: str) -> int:
    """table_num_buckets that RAISES instead of guessing: a rewrite
    that silently re-specs a stored table to a default bucket count
    would cost the probe its exchange-free join with no error
    anywhere — exactly the failure reading the spec back from the
    catalog exists to prevent."""
    nb = table_num_buckets(spark, table)
    if nb is None:
        raise ValueError(f"cannot read bucket spec of {table} from "
                         f"the catalog — refusing to rewrite it "
                         f"under a guessed bucket count")
    return nb


def append_bucketed(df, table: str, bucket_col: str,
                    n_buckets: int) -> None:
    """Append rows to an existing bucketed table under an explicit
    bucket spec (read it with require_bucket_count first — Spark
    errors loudly on a mismatched spec, which is the safe
    failure)."""
    df.write.mode("append").format("parquet") \
        .bucketBy(n_buckets, bucket_col).saveAsTable(table)


def files_per_partition(spark, table: str,
                        partition_col: str = "cell") -> dict:
    """File-count health of a partitioned catalog table — the
    compaction TRIGGER signal (VERDICT r7 #5): every exactly-once
    append lands its own file set per touched cell, so files/cell
    grows ~1 per append and scan throughput dies on per-file open
    overhead long before data volume matters. Driver-side: counts
    the catalog's file listing (metadata, no data read), grouping by
    the ``{partition_col}=`` path component. Returns {"cells",
    "files", "max_per_cell", "avg_per_cell"}; PERF.md's rule of
    thumb is to compact when max_per_cell exceeds a small multiple
    of the executor count."""
    import re

    counts: dict[str, int] = {}
    pat = re.compile(rf"/{re.escape(partition_col)}=([^/]+)/")
    for path in spark.table(table).inputFiles():
        m = pat.search(path)
        key = m.group(1) if m else "_unpartitioned"
        counts[key] = counts.get(key, 0) + 1
    total = sum(counts.values())
    return {"cells": len(counts), "files": total,
            "max_per_cell": max(counts.values()) if counts else 0,
            "avg_per_cell": round(total / len(counts), 2) if counts
            else 0.0}


def compact_partitioned_table(spark, table: str,
                              partition_cols: list[str],
                              batch_col: str = "_batch",
                              base_value: str = "base",
                              collect_stats: bool = True,
                              recover_from_stage: bool = False) -> dict:
    """Absorb appended ingestion batches back into the base
    generation of a (partition, batch)-partitioned catalog table —
    the maintenance job the exactly-once append path needs over
    time: every batch lands as its own file set per cell, and scan
    throughput dies on per-file open overhead long before data
    volume matters (same disease compact_parquet treats for plain
    paths).

    Rewrites every row under ``batch_col = base_value`` with one
    file set per partition value, via a staging table (Spark refuses
    to overwrite a table it is reading). The append ledger is not
    touched, and the caller owns the manifest bracket (compact_index;
    ledger rule in the module docstring). Returns
    {"rows", "files_before", "files_after"} — the stats are
    two extra full-table jobs (count + file listing), so pass
    ``collect_stats=False`` on a maintenance cadence where only the
    rewrite matters (ADVICE r7); stats then come back as None. The
    staging table is dropped on success and on a crash DURING the
    stage write (it is garbage then), so it never squats in the
    catalog across healthy runs (ADVICE r7) — but a crash during
    the FINAL overwrite keeps the stage: at that point the target is
    torn and the stage is the only intact copy of the compacted data
    (the caller's manifest bracket reads not-ready either way; the
    stage lets an operator finish the overwrite instead of paying
    the gated full rebuild, which discards committed append
    batches).

    A PRE-EXISTING stage at entry therefore means a previous run
    crashed around its final overwrite — recompacting would read the
    possibly-torn target and DESTROY the recovery copy, so this
    REFUSES by default (r9, ADVICE). Pass ``recover_from_stage=True``
    to instead finish the interrupted overwrite (restore the target
    from the stage, drop the stage) and then compact the restored
    table; the stage's presence in the CATALOG implies its own write
    committed (saveAsTable registers the entry after the data lands),
    which is what makes the restore safe.
    """
    stage = f"{table}_stage"
    parts = (*partition_cols, batch_col)
    if spark.catalog.tableExists(stage):
        if not recover_from_stage:
            raise RuntimeError(
                f"compact_partitioned_table: {stage} already exists — "
                f"a previous compaction crashed around its final "
                f"overwrite and the stage may be the only intact copy "
                f"of {table}; rerun with recover_from_stage=True to "
                f"restore {table} from it (or drop {stage} yourself "
                f"if you have verified {table} is intact)")
        overwrite_table(spark.table(stage), table, parts)
        spark.sql(f"DROP TABLE IF EXISTS {stage}")
    files_before = (len(spark.table(table).inputFiles())
                    if collect_stats else None)
    rows = spark.table(table).count() if collect_stats else None
    df = (spark.table(table)
          .withColumn(batch_col, F.lit(base_value))
          .repartition(*partition_cols))
    stage_written = overwrite_done = False
    try:
        overwrite_table(df, stage, parts)
        stage_written = True
        overwrite_table(spark.table(stage), table, parts)
        overwrite_done = True
    finally:
        if overwrite_done or not stage_written:
            spark.sql(f"DROP TABLE IF EXISTS {stage}")
    return {"rows": rows,
            "files_before": files_before,
            "files_after": (len(spark.table(table).inputFiles())
                            if collect_stats else None)}


def compact_parquet(spark, path: str, target_bytes: int = 128 * 1024 * 1024,
                    sort_col: str | None = None) -> dict:
    """Small-files compaction — the maintenance job every long-running
    100 TB ingest needs: streaming sinks and per-batch overwrites
    accumulate many tiny parquet files, and scan throughput dies on
    per-file open overhead long before data volume matters. Rewrites
    ``path`` into ceil(total_bytes / target_bytes) files (optionally
    sorted WITHIN files by ``sort_col`` for row-group skipping on a
    known predicate column) via an atomic same-filesystem rename:
    write to a sibling temp dir, swap, delete the old data.

    Returns {"files_before", "files_after", "bytes"}. The rewrite is
    one repartition-by-count job — no shuffle key, so Spark performs
    a round-robin exchange sized by the file budget; with sort_col it
    becomes a repartitionByRange + sortWithinPartitions (one range
    exchange, cluster-standard for sorted compaction).
    """
    import glob as _glob
    import os
    import shutil
    import uuid as _uuid

    files = [f for f in _glob.glob(os.path.join(path, "**", "*.parquet"),
                                   recursive=True)
             if os.path.isfile(f)]
    if not files:
        raise ValueError(f"no parquet files under {path}")
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // int(target_bytes)))
    df = spark.read.parquet(path)
    tmp = f"{path.rstrip('/')}__compact_{_uuid.uuid4().hex[:8]}"
    if sort_col is not None:
        out = (df.repartitionByRange(n_out, F.col(sort_col))
               .sortWithinPartitions(sort_col))
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(tmp)
    old = f"{path.rstrip('/')}__old_{_uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = [f for f in _glob.glob(os.path.join(path, "**", "*.parquet"),
                                   recursive=True) if os.path.isfile(f)]
    return {"files_before": len(files), "files_after": len(after),
            "bytes": int(total)}


# ------------------------------------------------ stored-artifact lifecycle

def build_index(spark, prefix: str, write, clear_ledger: bool = True,
                includes_appends: bool = False) -> list[str]:
    """THE build bracket (module docstring): invalidate the manifest,
    clear the append ledger, run ``write()`` — which writes the
    artifact tables and returns their names — and commit the manifest
    listing them LAST. Returns the committed names.

    ``clear_ledger=False`` is the compaction form (compact_index, the
    snapshot version cut): the rewrite absorbs the appended batches,
    so their ids stay committed. ``includes_appends`` is
    clear_append_ledger's inline waiver."""
    invalidate_manifest(spark, prefix)
    if clear_ledger:
        clear_append_ledger(spark, prefix,
                            includes_appends=includes_appends)
    names = write()
    write_manifest(spark, prefix, names)
    return names


def ledgered_append(spark, prefix: str, batch_id: str | None,
                    caller: str, write) -> int | None:
    """The ledger step every append goes through (module docstring):
    skip a committed ``batch_id`` (returns None, before any batch
    compute), refuse a new one while quarantined ids are pending, run
    ``write()`` — which returns the row count — and record the id LAST.
    ``write`` must be idempotent per batch, or run inside a manifest
    bracket (transactional_append); ``batch_id=None`` is an ad-hoc
    at-least-once append with no ledger entry."""
    if batch_id is not None and append_recorded(spark, prefix, batch_id):
        return None
    require_appendable(spark, prefix, batch_id, caller)
    n = int(write())
    if batch_id is not None:
        record_append(spark, prefix, batch_id)
    return n


def transactional_append(spark, prefix: str, names: list[str],
                         batch_id: str | None, caller: str,
                         stage) -> int:
    """Recovery mode 2, the manifest-bracket append (module docstring).

    ``stage()`` runs after the gates (committed index, ledger,
    quarantine) and BEFORE the manifest is invalidated: it computes
    everything the append needs from the batch and returns
    ``(n_rows, write)``. ``write()`` then rewrites or appends the
    ``names`` tables inside the bracket; the ledger entry is recorded
    just before the recommit. Returns ``n_rows``, or 0 for a committed
    re-delivery."""
    require_index_ready(spark, prefix, caller)

    def write() -> int:
        n, write_tables = stage()
        invalidate_manifest(spark, prefix)
        write_tables()
        # the write may have executed under a DIFFERENT SparkSession
        # than ``spark`` (foreachBatch hands the ingest a per-query
        # CLONE whose DataFrames carry it through every derived
        # write) — sessions share the catalog and the files but cache
        # table relations separately, so without a refresh the
        # caller's session keeps serving the PRE-APPEND file listing
        for t in names:
            spark.catalog.refreshTable(t)
        return n

    n = ledgered_append(spark, prefix, batch_id, caller, write)
    if n is None:
        return 0
    write_manifest(spark, prefix, names)
    return n


def merge_counts(spark, table: str, batch: DataFrame, keys: list[str],
                 count_col: str, bucket_col: str | None = None,
                 sort_col: str | None = None):
    """Additive keyed merge of a batch's counts into a stored count
    table (counts of a union = sum of counts). Computes the merged
    table NOW — checkpointed, since the rewrite overwrites the table it
    reads — and returns the rewrite for the caller's bracket. A
    ``bucket_col`` table is rewritten under the bucket spec read back
    from the catalog, so the probe's exchange-free join survives;
    one-row-per-key is kept because the probe joins counts as single
    rows, never sums them."""
    merged = (spark.table(table).unionByName(batch)
              .groupBy(*keys)
              .agg(F.sum(count_col).cast("long").alias(count_col))
              .localCheckpoint(eager=True))
    if bucket_col is None:
        return lambda: overwrite_table(merged, table)
    nb = require_bucket_count(spark, table)
    return lambda: write_bucketed(merged, table, bucket_col, nb,
                                  sort_col=sort_col)


_DYNAMIC_OVERWRITE_LOCK = threading.Lock()


def _dynamic_overwrite_insert(spark, aligned: DataFrame,
                              table: str) -> None:
    """insertInto under DYNAMIC partition-overwrite: replaces only
    the partitions present in ``aligned`` (positional columns, the
    table's own partitioning). The mode must be set on the SESSION
    conf — the per-writer ``option("partitionOverwriteMode", ...)``
    is not honored on the insertInto path and a STATIC overwrite
    with no partition spec truncates the whole table (observed, and
    exactly the failure this helper exists to prevent); conf is
    restored in a finally.

    The set/write/restore is serialized under a process lock: the
    conf is SESSION-GLOBAL, so two interleaved appends could
    otherwise restore 'static' under each other and truncate an
    index. The lock covers every writer that goes through this
    helper (all in-repo append paths); code outside it flipping the
    same conf concurrently cannot be excluded by the lock — the
    conf is RE-READ and asserted 'dynamic' immediately before the
    insertInto, which NARROWS the race window to the instant between
    this check and the write but cannot close it (a flip landing
    inside that instant still truncates). On a shared cluster use a
    table format with a transactional replaceWhere — that is the real
    cure, not this check.

    The conf is set on ``aligned``'s OWN session, not the caller's
    handle: under foreachBatch the batch DataFrame belongs to a
    per-query session CLONE with its own conf, and insertInto
    resolves the mode from the session that executes the write —
    setting it on the outer handle left the clone in 'static' and
    truncated the whole cells table (caught by the semdedup
    streaming-ingest restart test)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    sess = aligned.sparkSession
    with _DYNAMIC_OVERWRITE_LOCK:
        prev = sess.conf.get(key, "static")
        sess.conf.set(key, "dynamic")
        try:
            actual = sess.conf.get(key)
            if actual.lower() != "dynamic":
                raise RuntimeError(
                    f"partitionOverwriteMode flipped to {actual!r} "
                    f"under the overwrite lock — refusing the "
                    f"insertInto into {table}: a static overwrite "
                    f"here would truncate the whole table")
            aligned.write.insertInto(table, overwrite=True)
        finally:
            sess.conf.set(key, prev)


def partitioned_append(spark, prefix: str, table: str,
                       batch_id: str | None, caller: str, stage,
                       auto_compact_files_per_cell: int | None = None
                       ) -> int:
    """Recovery mode 1 on a ``(cell, _batch)``-partitioned index table
    (module docstring): after the gates, ``stage()`` returns the
    batch's rows with a ``cell`` column; they land under
    ``_batch = batch_id`` by DYNAMIC partition overwrite, so a retry
    after a crash anywhere before the ledger write replaces exactly
    its own partitions. ``batch_id=None`` is a plain append under
    ``_batch='adhoc'`` (at-least-once). A persisted ``stage()`` frame
    is unpersisted after the write.

    ``auto_compact_files_per_cell``: once the append has committed,
    compact the table (compact_index) when any cell holds more files
    than this — see _maybe_auto_compact. Returns rows appended, 0 for
    a committed re-delivery."""
    require_index_ready(spark, prefix, caller)

    def write() -> int:
        staged = stage()
        try:
            rows = staged.withColumn("_batch", F.lit(batch_id or "adhoc"))
            n = rows.count()
            # insertInto is positional: align to the table's column
            # order (partition columns last)
            aligned = rows.select(
                *[f.name for f in spark.table(table).schema])
            if batch_id is not None:
                _dynamic_overwrite_insert(spark, aligned, table)
            else:
                aligned.write.mode("append").format("parquet") \
                    .partitionBy("cell", "_batch").saveAsTable(table)
        finally:
            if staged.is_cached:
                staged.unpersist()
        # cross-session relation-cache refresh (see transactional_append)
        spark.catalog.refreshTable(table)
        return n

    n = ledgered_append(spark, prefix, batch_id, caller, write)
    if n is None:
        return 0
    _maybe_auto_compact(spark, prefix, table, auto_compact_files_per_cell,
                        lambda: compact_index(spark, prefix, table),
                        committed_rows=n)
    return n


def compact_index(spark, prefix: str, table: str) -> dict:
    """Absorb every appended batch of the ``(cell, _batch)``-partitioned
    ``table`` back into its base generation (compact_partitioned_table)
    inside the build bracket with the ledger KEPT, recommitting the
    SAME artifact list — a torn compaction reads as not-ready, and
    absorbed ids keep deduplicating re-delivery. Returns the
    compaction stats.

    SINGLE-WRITER contract: an append that commits while the rewrite
    is in flight would be erased by the final overwrite — with its
    ledger entry surviving, re-delivery would be skipped and the
    loss silent. Best-effort enforcement: the append ledger is
    snapshotted before the rewrite and re-checked after; a
    concurrent append raises, naming the batch ids that must be
    re-ingested under NEW ids (their data is gone, their old ids are
    burned), and leaves the manifest invalidated. Invalidating first
    also closes most of the window: every append is gated on
    index_ready, so once the manifest is gone new appends refuse to
    start. The guard sees only LEDGERED appends — an adhoc append
    (batch_id=None) committing mid-rewrite is erased with no
    detection, within its stated at-least-once contract. A
    transactional table format is the real cure on a shared
    cluster."""
    # same gate as the appends: compacting an uncommitted index gets
    # the designed ValueError, not a raw catalog error from the
    # manifest read below
    require_index_ready(spark, prefix, "compact_index")
    manifest = [r.artifact
                for r in spark.table(f"{prefix}_manifest").collect()]
    before = set(_batch_ids(spark, f"{prefix}_appends"))
    stats: dict = {}

    def write() -> list[str]:
        stats.update(compact_partitioned_table(spark, table, ["cell"]))
        raced = set(_batch_ids(spark, f"{prefix}_appends")) - before
        if raced:
            raise RuntimeError(
                f"append(s) {sorted(raced)} committed during compaction "
                f"of {table} — depending on timing their rows were "
                f"either erased by the rewrite or absorbed into it; "
                f"verify presence before re-ingesting under NEW batch "
                f"ids (the old ids are burned in the ledger); the "
                f"manifest is left invalidated so gated readers "
                f"rebuild")
        return manifest

    build_index(spark, prefix, write, clear_ledger=False)
    return stats


class MaintenanceFailedError(RuntimeError):
    """The APPEND COMMITTED (data + ledger) but the in-path
    auto-compaction that followed it failed. Distinct type so
    orchestrators do not mark the batch failed: for ledgered
    batch_id appends a blind retry is harmless (the ledger dedupes it
    to 0) but unnecessary; for batch_id=None it would DUPLICATE rows.
    Carries ``committed_rows`` — the count the append would have
    returned — plus ``prefix``/``table`` for the maintenance ticket.
    """

    def __init__(self, prefix: str, table: str, committed_rows: int):
        self.prefix = prefix
        self.table = table
        self.committed_rows = int(committed_rows)
        super().__init__(
            f"auto-compaction of {table} failed AFTER the append "
            f"committed {self.committed_rows} row(s) (data + ledger) "
            f"— do NOT re-ingest the batch; the index is left "
            f"not-ready and gated readers will rebuild (or finish "
            f"the compaction manually)")


def _maybe_auto_compact(spark, prefix: str, table: str,
                        threshold: int | None, compact_fn,
                        committed_rows: int = 0) -> None:
    """Append-path compaction trigger: fire ``compact_fn`` when any
    partition of ``table`` exceeds ``threshold`` files (None: never).
    Runs AFTER the ledger write, so the append is already committed —
    a crash mid-compaction leaves the manifest invalidated (gated
    readers rebuild; torn rewrites are never served), exactly the
    bracket a manual compaction runs under. A compaction failure
    raises MaintenanceFailedError carrying ``committed_rows`` so the
    caller's success (the append) is not reported as a failed
    ingest."""
    if threshold is None:
        return
    if files_per_partition(spark, table)["max_per_cell"] > threshold:
        try:
            compact_fn()
        except Exception as exc:
            raise MaintenanceFailedError(prefix, table,
                                         committed_rows) from exc
