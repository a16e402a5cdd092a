"""Coverage for the remaining SURVEY section 2 inventory rows:
S3 generator source, S4 kafka feeder gating, M1 salted two-stage
aggregation, P2 apache-log parsing."""

import os

import pytest
from pyspark.sql import functions as F

from flink_user_behavior_analysis_spark.operators.windows import (
    salted_two_stage_count,
    windowed_global_count,
)
from flink_user_behavior_analysis_spark.queries_reference import FIXTURES
from flink_user_behavior_analysis_spark.sources import load_table
from flink_user_behavior_analysis_spark.sources.kafka_feed import (
    feed_df_to_kafka,
    feed_file_to_kafka,
)
from flink_user_behavior_analysis_spark.sources.readers import (
    marketing_generator_stream,
    parse_apache_log,
)


def test_salted_two_stage_equals_plain_count(spark, sf_dir):
    """M1 (PageView.java:66-80): the explicit salted two-stage total
    must equal the single-operator count for every window."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    plain = {
        (r.window_end_us, r.cnt)
        for r in windowed_global_count(ev, "ts", "1 hour").collect()
    }
    salted = {
        (r.window_end_us, r.cnt)
        for r in salted_two_stage_count(
            ev, "ts", "1 hour", salt_col="user_id"
        ).collect()
    }
    assert plain == salted and plain


def test_marketing_generator_stream_shape(spark):
    """S3 (AppMarketingByChannel.java:65-97): rate-source generator
    produces the MarketingUserBehavior schema, streaming, no Python."""
    s = marketing_generator_stream(spark, rows_per_second=50)
    assert s.isStreaming
    assert [f.name for f in s.schema.fields] == [
        "user_id", "behavior", "channel", "ts"
    ]
    q = (s.writeStream.format("memory").queryName("gen_smoke")
         .outputMode("append").trigger(processingTime="250 milliseconds").start())
    try:
        import time

        deadline = time.time() + 15
        n = 0
        while time.time() < deadline:
            n = spark.table("gen_smoke").count()
            if n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n > 0
    rows = spark.table("gen_smoke").limit(20).collect()
    behaviors = {"CLICK", "DOWNLOAD", "INSTALL", "UNINSTALL"}
    channels = {"app store", "wechat", "weibo", "browser"}
    assert all(r.behavior in behaviors and r.channel in channels for r in rows)


def test_kafka_feeders_are_gated(spark, sf_dir):
    """S1/S4: without a broker/connector the feeders fail fast with a
    clear NotImplementedError, not deep inside a job."""
    with pytest.raises(NotImplementedError):
        feed_file_to_kafka("/dev/null", "t", "localhost:9092")
    df = load_table(spark, sf_dir, "nation").limit(1)
    with pytest.raises(NotImplementedError):
        feed_df_to_kafka(df, "t", "localhost:9092")


@pytest.mark.skipif(
    not os.path.exists(FIXTURES["apache"]), reason="reference fixture absent"
)
def test_parse_apache_log(spark):
    """P2 (HotPage.java:50-54): space-split + dd/MM/yyyy:HH:mm:ss parse."""
    df = parse_apache_log(spark, FIXTURES["apache"])
    assert df.columns == ["ip", "user_id", "ts", "method", "url"]
    n = df.count()
    assert n == 10000
    gets = df.where(F.col("method") == "GET").count()
    assert gets == 9952  # documented in BASELINE.md


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Skew-mitigation salted join returns exactly the plain join's rows."""
    from flink_user_behavior_analysis_spark.operators import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    plain = sorted(map(tuple, ev.join(cust, "user_id").collect()))
    salted = sorted(map(tuple, salted_join(ev, cust, ["user_id"], 8).collect()))
    assert plain == salted and plain


def test_salted_join_rejects_key_only_salt(spark, sf_dir):
    """A salt derived only from join-key columns is constant per key
    (no skew mitigation) — the operator must refuse, not silently
    degrade (ADVICE r2)."""
    import pytest

    from flink_user_behavior_analysis_spark.operators import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )
    with pytest.raises(ValueError, match="subset of the join keys"):
        salted_join(ev, cust, ["user_id"], 8)
    # explicit key-only salt_on is refused the same way
    with pytest.raises(ValueError, match="subset of the join keys"):
        salted_join(ev.withColumn("x", F.lit(1)), cust, ["user_id"], 8,
                    salt_on=["user_id"])


def test_salted_join_default_skips_map_columns(spark, sf_dir):
    """Default salt-column selection must drop MapType columns, which
    xxhash64 cannot hash (ADVICE r2)."""
    from flink_user_behavior_analysis_spark.operators import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.create_map(F.lit("k"), F.col("event_type")).alias("m"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    plain = sorted(
        map(tuple, ev.drop("m").join(cust, "user_id").collect()))
    salted = sorted(
        map(tuple,
            salted_join(ev, cust, ["user_id"], 4).drop("m").collect()))
    assert plain == salted and plain


def test_signature_cache_is_per_session(spark):
    """release_signature_cache drains only the requested session's
    frames and reports the count (ADVICE r2)."""
    from flink_user_behavior_analysis_spark.operators.dedup import (
        _CACHE_FINALIZERS,
        _CACHED_JDFS,
        _tracked_persist,
        release_signature_cache,
    )

    release_signature_cache(spark)  # clean slate
    df = _tracked_persist(spark.range(10))
    df.count()
    key = id(spark)
    assert key in _CACHED_JDFS and len(_CACHED_JDFS[key]) == 1
    assert key in _CACHE_FINALIZERS and _CACHE_FINALIZERS[key].alive
    assert release_signature_cache(spark) == 1
    assert key not in _CACHED_JDFS and key not in _CACHE_FINALIZERS
    assert release_signature_cache(spark) == 0


def test_signature_cache_holds_no_session_reference(spark):
    """ADVICE r4: the registry must not keep the Python SparkSession
    wrapper (or anything referencing it, like a DataFrame) alive —
    keys are plain ints, values are JVM-side handles only, so the
    session's GC finalizer can actually fire."""
    import gc

    from pyspark.sql import DataFrame, SparkSession

    from flink_user_behavior_analysis_spark.operators.dedup import (
        _CACHED_JDFS,
        _tracked_persist,
        release_signature_cache,
    )

    release_signature_cache(spark)
    df = _tracked_persist(spark.range(10))
    df.count()
    try:
        for lst in _CACHED_JDFS.values():
            for handle in lst:
                # JVM-side handles only (py4j proxies answer hasattr
                # for anything, so assert on the python type itself)
                assert not isinstance(handle, (DataFrame, SparkSession))
                assert type(handle).__name__ == "JavaObject", type(handle)
        # the registry dict must not be a referrer of the session
        assert not any(ref is _CACHED_JDFS or ref is list(_CACHED_JDFS)
                       for ref in gc.get_referrers(spark))
    finally:
        assert release_signature_cache(spark) == 1


def test_compact_parquet_reduces_files_and_preserves_rows(spark, sf_dir,
                                                          tmp_path):
    """Small-files compaction: 40 tiny files collapse to the byte
    budget's file count, rows survive exactly, and the sorted variant
    orders rows within files by the sort column."""
    import glob
    import os

    from flink_user_behavior_analysis_spark.sources.readers import (
        compact_parquet,
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "shredded")
    docs.repartition(40).write.parquet(path)
    n_before = len(glob.glob(os.path.join(path, "*.parquet")))
    assert n_before >= 40
    want = sorted(r.doc_id for r in docs.collect())

    stats = compact_parquet(spark, path, target_bytes=1 << 30)
    assert stats["files_before"] == n_before
    assert stats["files_after"] == 1
    got = sorted(r.doc_id for r in spark.read.parquet(path).collect())
    assert got == want

    # sorted compaction: within-file order follows the sort column
    path2 = str(tmp_path / "shredded2")
    docs.repartition(17).write.parquet(path2)
    compact_parquet(spark, path2, target_bytes=1 << 30,
                    sort_col="doc_id")
    (one,) = glob.glob(os.path.join(path2, "*.parquet"))
    import pyarrow.parquet as pq

    ids = pq.read_table(one, columns=["doc_id"])["doc_id"].to_pylist()
    assert ids == sorted(ids)


def test_stored_lifecycle_primitives_are_called_only_in_readers():
    """The stored-artifact commit protocol lives once, in
    sources/readers.py: no other package module calls the manifest or
    ledger primitives directly (families go through build_index and
    the append entry points), and transactional_append has no
    pre-check bypass."""
    import ast
    import inspect
    import pathlib

    import flink_user_behavior_analysis_spark as pkg
    from flink_user_behavior_analysis_spark.sources import readers

    banned = {"invalidate_manifest", "write_manifest",
              "clear_append_ledger", "record_append",
              "require_appendable", "require_index_ready"}
    root = pathlib.Path(pkg.__file__).resolve().parent
    home = pathlib.Path(readers.__file__).resolve()
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path.resolve() == home:
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name in banned:
                offenders.append(
                    f"{path.relative_to(root)}:{node.lineno} {name}")
    assert not offenders, offenders
    assert "pre_checked" not in inspect.signature(
        readers.transactional_append).parameters
