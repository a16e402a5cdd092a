"""Corpus snapshot diff: what changed between two versions of a
document collection — the data-versioning primitive a training-data
pipeline needs before re-running downstream stages (re-dedup only the
added/changed slice, invalidate packed sequences of removed docs,
audit a vendor re-delivery).

Spark-first shape: one full-outer join on the document key comparing
content fingerprints — never a text comparison (the fingerprint is
computed scan-side, so only (key, 32-byte hash) rows ever shuffle,
regardless of document size). At 100 TB both snapshots live as
bucketed tables on the key, making the diff a zero-exchange
sort-merge join; unbucketed, it is one co-partitioned shuffle of
hash-width rows, and AQE handles the (rare) hot-key skew since keys
are unique per snapshot.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: field separator / null sentinel / escape char for the fingerprint
#: encoding below. Exported so oracles and tests stay in lockstep.
FP_SEP, FP_NUL, FP_ESC = "\x1f", "\x00", "\x1b"


def _fp_field(c: str):
    """Injectively encode one content column as a string field.

    Escape-encode so content containing the separator, the null
    sentinel, or the escape char itself cannot alias field boundaries
    (ADVICE r11: without this, ('a\\x1fb', 'c') and ('a', 'b\\x1fc')
    fingerprinted identically, so a real change could report as
    unchanged). Standard escape argument: every literal ESC/SEP/NUL in
    content becomes an ESC-prefixed pair, so a bare SEP is always a
    field boundary and a bare NUL is always the null sentinel. Three
    scan-side JVM string replaces per column — no shuffle impact."""
    v = F.col(c).cast("string")
    v = F.replace(v, F.lit(FP_ESC), F.lit(FP_ESC + FP_ESC))
    v = F.replace(v, F.lit(FP_SEP), F.lit(FP_ESC + FP_SEP))
    v = F.replace(v, F.lit(FP_NUL), F.lit(FP_ESC + FP_NUL))
    return F.coalesce(v, F.lit(FP_NUL))


def fingerprint_snapshot(
    df: DataFrame,
    key_cols: Sequence[str],
    content_cols: Sequence[str],
) -> DataFrame:
    """(key..., fp) — md5 over the unit-separator-joined,
    escape-encoded content columns. Nulls are encoded as an explicit
    NUL sentinel (never skipped — concat_ws would drop both the value
    AND its separator, making ('a', null) collide with (null, 'a') and
    with 'a' alone), so null, '' and absent are three distinct
    fingerprints; literal separator / sentinel / escape bytes inside
    content are escaped (see _fp_field), so field positions are stable
    for ALL inputs, not just control-char-free ones.
    """
    fp = F.md5(F.concat_ws(FP_SEP,
                           *[_fp_field(c) for c in content_cols]))
    return df.select(*key_cols, fp.alias("fp"))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    content_cols: Sequence[str],
) -> DataFrame:
    """Row-level diff of two snapshots: (key..., status, old_fp, new_fp)
    with status in {'added', 'removed', 'changed'}; unchanged rows are
    dropped scan-side (the common case at scale — a daily crawl delta
    touches a tiny fraction of the corpus, so the output is small even
    when the inputs are not).

    Keys must be unique AND non-null within each snapshot (document
    primary keys); duplicate keys would fan out the join and
    double-report, null keys would silently drop from the join. Null
    content is sentinel-encoded (see fingerprint_snapshot), so a
    null-vs-'' flip IS reported as a change.
    """
    keys = list(key_cols)
    return _diff_fps(fingerprint_snapshot(old, keys, content_cols),
                     fingerprint_snapshot(new, keys, content_cols),
                     keys)


def _diff_fps(o: DataFrame, n: DataFrame,
              keys: Sequence[str]) -> DataFrame:
    """The diff core over two (key..., fp) frames — shared by the
    inline snapshot_diff and the stored-fingerprint probe."""
    from functools import reduce

    # alias-qualified references: the sides often share lineage (two
    # filters of the same table), which makes df[col] ambiguous in the
    # self-join — string-qualified names resolve per alias instead
    o, n = o.alias("__snap_o"), n.alias("__snap_n")

    def ocol(c):
        return F.col(f"__snap_o.{c}")

    def ncol(c):
        return F.col(f"__snap_n.{c}")

    # plain equality, NOT eqNullSafe: null-safe equality compiles to
    # coalesce/isnull join keys, which the planner cannot match to a
    # bucket layout (it disables bucketing and shuffles both sides).
    # Snapshot keys are primary keys — non-null by contract — so
    # plain == is both correct and zero-exchange over bucketed tables.
    cond = reduce(lambda a, b: a & b,
                  [ocol(k) == ncol(k) for k in keys])
    joined = o.join(n, cond, "full_outer")
    status = (
        F.when(ocol(keys[0]).isNull(), F.lit("added"))
        .when(ncol(keys[0]).isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    out_keys = [F.coalesce(ocol(k), ncol(k)).alias(k) for k in keys]
    return (
        joined.select(
            *out_keys,
            status.alias("status"),
            ocol("fp").alias("old_fp"),
            ncol("fp").alias("new_fp"),
        )
        .where(
            F.col("old_fp").isNull()
            | F.col("new_fp").isNull()
            | (F.col("old_fp") != F.col("new_fp"))
        )
    )


def snapshot_store_fps(
    snapshot: DataFrame,
    prefix: str,
    key_cols: Sequence[str],
    content_cols: Sequence[str],
    n_buckets: int = 8,
) -> list[str]:
    """Materialize a corpus version's FINGERPRINT TABLE as a catalog
    artifact: {prefix}_fps (key..., fp) bucketed on the key — the
    versioning shape at 100 TB: the old snapshot's text is read once
    when the version is cut, and every later diff probes hash-width
    rows on a co-partitioned layout (zero-exchange against a
    same-bucketed candidate side). Committed through the shared build
    bracket (sources/readers.py), so a crash mid-build reads as
    not-ready and the caller rebuilds instead of diffing against half
    a version.

    Like every other rebuild, this clears the CDC append ledger under
    ``prefix``: a REBUILD mid-CDC-cycle invalidates the probe context
    every already-committed slice's verdicts were emitted against, so
    those batch ids are QUARANTINED — the orchestrator must
    re-deliver them (re-probe + re-stage are idempotent) or waive
    with acknowledge_cleared. The normal lifecycle never hits this:
    cycle-start builds see no ledger, and the in-cycle version cut
    (snapshot_cdc_compact) waives inline because the cut absorbs the
    staged batches."""
    keys = list(key_cols)
    return _cut_fps(snapshot.sparkSession, prefix,
                    fingerprint_snapshot(snapshot, keys, content_cols),
                    keys, n_buckets)


def snapshot_cut_version(
    spark,
    prefix: str,
    fps: DataFrame,
    key_cols: Sequence[str],
    n_buckets: int = 8,
) -> list[str]:
    """Cut the next corpus version from ALREADY-COMPUTED (key..., fp)
    rows — the CDC compaction path (VERDICT r11 #6), where the staged
    per-slice fingerprints union to the complete candidate snapshot
    and the content was already hashed on the wire, so the version cut
    never rereads document text. Build bracket WITHOUT the ledger
    clear (sources/readers.py): a crash mid-cut reads as not-ready and
    gated probes refuse instead of diffing against half a version."""
    return _cut_fps(spark, prefix, fps, list(key_cols), n_buckets,
                    clear_ledger=False)


def _cut_fps(spark, prefix: str, fps: DataFrame, keys: list[str],
             n_buckets: int, **ledger) -> list[str]:
    """Write ``{prefix}_fps`` bucketed on the key inside the build
    bracket; ``ledger`` is build_index's ledger policy."""
    from ..sources.readers import build_index, write_bucketed

    def write() -> list[str]:
        write_bucketed(fps.select(*keys, "fp"), f"{prefix}_fps",
                       keys[0] if len(keys) == 1 else keys, n_buckets)
        return [f"{prefix}_fps"]

    return build_index(spark, prefix, write, **ledger)


def snapshot_diff_from_store(
    spark,
    prefix: str,
    new_snapshot: DataFrame,
    key_cols: Sequence[str],
    content_cols: Sequence[str],
) -> DataFrame:
    """Diff a candidate snapshot against the STORED fingerprint table
    of the previous version: same (key..., status, old_fp, new_fp)
    contract as snapshot_diff, but the old side is the {prefix}_fps
    artifact — the old corpus text is never reread, so a daily diff
    costs one scan of the NEW snapshot plus a hash-width join however
    large the history is. Probe == inline is the stored twin's claim:
    diffing against the stored table must equal snapshot_diff on the
    original frames (test-asserted)."""
    from ..sources.readers import index_ready

    if not index_ready(spark, prefix):
        raise ValueError(
            f"snapshot fingerprint store '{prefix}' is not ready — "
            "build it with snapshot_store_fps first")
    keys = list(key_cols)
    old_fps = spark.table(f"{prefix}_fps")
    n = fingerprint_snapshot(new_snapshot, keys, content_cols)
    return _diff_fps(old_fps, n, keys)


def snapshot_probe_from_store(
    spark,
    prefix: str,
    new_rows: DataFrame,
    key_cols: Sequence[str],
    content_cols: Sequence[str],
) -> DataFrame:
    """Added/changed verdicts for a PARTIAL slice of a candidate
    snapshot against the stored fingerprint table — the CDC-shaped
    half of the diff: each row's verdict depends only on itself and
    the frozen {prefix}_fps artifact, so slices compose (a streaming
    ingest can probe micro-batches and the drained union equals the
    one-shot diff). 'removed' is structurally absent here: absence is
    a property of the COMPLETE candidate snapshot, so it belongs to
    snapshot_diff_from_store, not to a per-slice probe.

    Emits (key..., status in {'added','changed'}, old_fp, new_fp);
    unchanged rows are dropped."""
    from ..sources.readers import index_ready

    if not index_ready(spark, prefix):
        raise ValueError(
            f"snapshot fingerprint store '{prefix}' is not ready — "
            "build it with snapshot_store_fps first")
    keys = list(key_cols)
    from functools import reduce

    o = spark.table(f"{prefix}_fps").alias("__snap_o")
    n = fingerprint_snapshot(new_rows, keys, content_cols).alias("__snap_n")
    cond = reduce(lambda a, b: a & b,
                  [F.col(f"__snap_o.{k}") == F.col(f"__snap_n.{k}")
                   for k in keys])
    joined = n.join(o, cond, "left")
    status = (F.when(F.col("__snap_o.fp").isNull(), F.lit("added"))
              .otherwise(F.lit("changed")))
    return (
        joined.select(
            *[F.col(f"__snap_n.{k}").alias(k) for k in keys],
            status.alias("status"),
            F.col("__snap_o.fp").alias("old_fp"),
            F.col("__snap_n.fp").alias("new_fp"),
        )
        .where(F.col("old_fp").isNull()
               | (F.col("old_fp") != F.col("new_fp")))
    )
