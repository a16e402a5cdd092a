"""Benchmark decontamination: flag training documents that share
token n-grams with a held-out evaluation set.

The standard pre-training hygiene step (cf. GPT-3 appendix C /
PaLM app. D: 8-13-token n-gram collision => drop or redact the
training doc). The eval membership here is a deterministic hash
split of the same corpus — in production it would be the benchmark
suite loaded as its own table; the operator shape is identical.

Scale shape: the eval side is tiny by construction (benchmarks are
MBs; the corpus is TBs), so its distinct n-gram set BROADCASTS and
the contamination check is a map-side semi-join on the exploded
training stream — the 100 TB side is never shuffled. One small
shuffle remains: the per-doc hit-count aggregation on (doc_id),
whose input is only the colliding grams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import with_shingles
from .sampling import hash_uniform


def ngram_contamination(
    docs: DataFrame,
    eval_rate: float = 0.05,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "eval",
) -> DataFrame:
    """Training docs (u(id) >= eval_rate) that share >=1 distinct
    token ``n``-gram with any eval doc (u(id) < eval_rate).

    Returns (id, n_hits) for contaminated training docs only —
    n_hits = number of distinct n-grams of the doc that also occur
    anywhere in the eval set. Deterministic: the eval split is the
    portable hash of sampling.hash_uniform, so the output is
    oracle-checkable.
    """
    sh = with_shingles(docs, id_col, text_col, n).withColumn(
        "_is_eval", hash_uniform(id_col, seed) < eval_rate
    )
    grams = sh.select(
        F.col(id_col), "_is_eval", F.explode_outer("shingles").alias("gram")
    ).where(F.col("gram").isNotNull())
    # shingles are distinct per doc (with_shingles contract), so the
    # eval union only needs a distinct() and per-doc hits are count(*)
    eval_grams = grams.where(F.col("_is_eval")).select("gram").distinct()
    train = grams.where(~F.col("_is_eval"))
    return (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


def source_overlap_matrix(docs: DataFrame, n: int = 5,
                          id_col: str = "doc_id",
                          source_col: str = "source",
                          text_col: str = "text") -> DataFrame:
    """Cross-SOURCE contamination matrix: for every unordered source
    pair, how many distinct token ``n``-grams appear in BOTH — the
    diagnostic a mixture pipeline reads before weighting sources
    (heavy overlap means double-counting the same content under two
    names; Common Crawl vs a curated subset is the classic case).

    Output: (source_a, source_b, n_shared_grams), source_a <
    source_b lexicographically, pairs with zero overlap omitted.

    Scale shape (100 TB): one (gram, source) distinct aggregation
    (uniform md5-ish keys), then per-gram the DISTINCT SOURCE SET —
    bounded by #sources, which is small by definition — exploded
    into unordered pairs (<= |sources|^2 rows per gram, typically
    1) and counted. NO doc-pair or gram-pair join ever exists; a
    gram shared by millions of docs in two sources still contributes
    exactly one (pair, gram) row.
    """
    gs = (
        with_shingles(docs, id_col, text_col, n)
        .join(docs.select(F.col(id_col),
                          F.col(source_col).alias("_src")), id_col)
        .select("_src", F.explode_outer("shingles").alias("gram"))
        .where(F.col("gram").isNotNull())
        .distinct()
    )
    per_gram = gs.groupBy("gram").agg(
        F.array_sort(F.collect_set("_src")).alias("_srcs"))
    pairs = per_gram.select(
        F.explode(F.expr(
            "flatten(transform(_srcs, (a, i) -> "
            "transform(slice(_srcs, i + 2, size(_srcs)), "
            "b -> struct(a AS source_a, b AS source_b))))"
        )).alias("p")
    ).select("p.source_a", "p.source_b")
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


# ------------------------------------------------- stored decontamination

def _gram_fps(docs: DataFrame, n: int, id_col: str,
              text_col: str) -> DataFrame:
    """(id, gram_fp) — one row per DISTINCT n-gram per document
    (with_shingles already distincts within a doc), fp'd through the
    portable 60-bit md5 hash so the stored index holds fixed-width
    keys instead of raw gram text and the DuckDB oracle can
    reproduce every fp exactly."""
    from .dedup import md5_long

    return (
        with_shingles(docs, id_col, text_col, n)
        .select(F.col(id_col),
                F.explode_outer("shingles").alias("_gram"))
        .where(F.col("_gram").isNotNull())
        .select(F.col(id_col), md5_long(F.col("_gram")).alias("gram_fp"))
    )


def contam_store_grams(corpus: DataFrame, prefix: str, n: int = 5,
                       n_buckets: int = 8, id_col: str = "doc_id",
                       text_col: str = "text",
                       rebuild_includes_appends: bool = False) -> list[str]:
    """Materialize the corpus n-gram INVERTED INDEX as a catalog
    artifact — the production decontamination shape: one table
    {prefix}_grams (gram_fp, id) bucketed on gram_fp. A benchmark
    suite then probes the index (contamination_from_store) without
    ever rescanning the corpus text — the 100 TB shingling cost is
    paid once per corpus version, not once per eval release.

    Shared build bracket: sources/readers.py."""
    from ..sources.readers import build_index, write_bucketed

    def write() -> list[str]:
        write_bucketed(_gram_fps(corpus, n, id_col, text_col),
                       f"{prefix}_grams", "gram_fp", n_buckets)
        return [f"{prefix}_grams"]

    return build_index(corpus.sparkSession, prefix, write,
                       includes_appends=rebuild_includes_appends)


def contam_append_grams(spark, prefix: str, new_docs: DataFrame,
                        batch_id: str | None = None, n: int = 5,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> int:
    """Fold a new corpus batch into the stored gram index: shingle
    ONLY the batch and append its (gram_fp, id) rows — a plain
    bucketed append preserves the probe join's co-partitioning.
    ``n`` MUST match the store (gram fps are a function of it).
    Exactly-once through the shared manifest-bracket append
    (sources/readers.py).

    PRECONDITION (ADVICE r10): batch doc ids must be DISJOINT from
    docs already in the index — the index is additive over disjoint
    doc sets, exactly like lm_append_to_model. Re-appending an
    existing doc_id under a new batch_id stores its (gram_fp, id)
    rows twice; the probe defends in depth by counting DISTINCT
    gram_fp per doc, so n_hits stays correct even then, but the
    duplicate rows still cost index bytes — don't rely on it."""
    from ..sources.readers import (append_bucketed, require_bucket_count,
                                   transactional_append)

    def stage():
        fps = _gram_fps(new_docs, n, id_col, text_col)
        n_batch = new_docs.count()
        nb = require_bucket_count(spark, f"{prefix}_grams")
        return n_batch, lambda: append_bucketed(
            fps, f"{prefix}_grams", "gram_fp", nb)

    return transactional_append(
        spark, prefix, [f"{prefix}_grams"], batch_id,
        "contam_append_grams", stage)


def contamination_from_store(spark, prefix: str, eval_docs: DataFrame,
                             n: int = 5, id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Probe-only decontamination against the stored gram index: the
    arriving EVAL SET (tiny by construction — benchmarks are MBs)
    shingles itself, fps its distinct grams, and semi-joins the
    bucketed corpus index — the corpus text is never read and the
    index side never shuffles on a new eval release. Returns
    (id, n_hits) per CONTAMINATED corpus doc, identical to
    ngram_contamination's fp-space semantics on the same split
    (test-asserted probe ≡ inline; the driver oracle recomputes both
    sides from scratch in SQL)."""
    ev = (_gram_fps(eval_docs, n, id_col, text_col)
          .select("gram_fp").distinct())
    idx = spark.table(f"{prefix}_grams")
    # countDistinct (not count(*)): identical under the append
    # precondition (rows are unique per (id, gram_fp)), and it keeps
    # n_hits correct if a doc was ever re-appended (ADVICE r10) —
    # partial aggregation still applies, input is only colliding grams
    return (
        idx.join(F.broadcast(ev), "gram_fp")
        .groupBy(id_col)
        .agg(F.countDistinct("gram_fp").cast("long").alias("n_hits"))
    )
