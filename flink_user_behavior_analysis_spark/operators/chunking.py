"""Document chunking and sequence packing: split documents into
fixed-size token windows, then pack the windows into training
sequences of exactly ``seq_tokens`` tokens (GPT-style
concat-and-cut) — the transform that turns a curated corpus into
model input.

Scale shape: chunking is pure per-row array expressions (split ->
slice windows -> posexplode) — an embarrassingly parallel projection
with NO shuffle; at 100 TB it runs at parquet scan speed with only
the text column read. Packing needs a running token count, which is
inherently sequential GLOBALLY — so it runs per hash-bucket: a
deterministic bucket of the doc id scopes the cumulative sum to one
window partition, every bucket packs independently in parallel, and
the only waste is <=1 ragged tail sequence per bucket (fraction
~B*L/total_tokens, vanishing at scale). This bucket-scoped
concat-and-cut is how distributed packers actually bound the
sequential dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import md5_long, with_tokens


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, chunk_idx, n_chunk_tokens, chunk_text): consecutive
    ``chunk_tokens``-sized windows over the normalized token stream;
    the last chunk per doc is the (non-empty) remainder. An empty
    document yields one empty chunk (split('') is [''] in both
    engines — document identity is preserved through chunking).
    """
    c = int(chunk_tokens)
    toks = with_tokens(docs, id_col, text_col)
    chunks = F.expr(
        f"transform(sequence(0, cast(ceil(size(tokens) / {c}.0) AS INT) - 1), "
        f"i -> concat_ws(' ', slice(tokens, i * {c} + 1, {c})))"
    )
    return toks.select(
        F.col(id_col), F.posexplode_outer(chunks).alias("chunk_idx", "chunk_text")
    ).select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(F.split(F.col("chunk_text"), " ")).cast("long"
               ).alias("n_chunk_tokens"),
        "chunk_text",
    )


def pack_sequences(
    chunks: DataFrame,
    seq_tokens: int = 64,
    n_buckets: int = 8,
    id_col: str = "doc_id",
    seed: str = "pack",
) -> DataFrame:
    """Pack chunk_documents output into sequences of exactly
    ``seq_tokens`` tokens by concatenating the bucket's token stream
    in (doc, chunk) order and cutting every ``seq_tokens`` — chunks
    that straddle a cut contribute a piece to each side, so no
    padding and no token is dropped.

    Output: (bucket, seq_id, n_seq_tokens, n_docs, seq_text), where
    n_seq_tokens == seq_tokens for every sequence except at most the
    last per bucket (the ragged tail).

    One shuffle on bucket for the running sum (window), an explode of
    at most 2 rows per chunk (a chunk shorter than a sequence spans
    <=2 cuts), then one groupBy (bucket, seq) to assemble — the
    assembly order is carried by array_sort on (doc, chunk_idx)
    structs, not by any partitioning assumption.
    """
    from pyspark.sql import Window

    L = int(seq_tokens)
    bucket = (
        md5_long(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")))
        % n_buckets
    ).alias("bucket")
    w = Window.partitionBy("bucket").orderBy(id_col, "chunk_idx")
    c = chunks.select(bucket, id_col, "chunk_idx", "n_chunk_tokens",
                      "chunk_text").withColumn(
        "_cend", F.sum("n_chunk_tokens").over(w)
    ).withColumn("_cstart", F.col("_cend") - F.col("n_chunk_tokens"))
    spans = c.select(
        "bucket", F.col(id_col), "chunk_idx", "chunk_text",
        "_cstart", "_cend",
        F.explode(
            F.sequence(
                F.expr(f"_cstart div {L}"),
                F.expr(f"(_cend - 1) div {L}"),
            )
        ).alias("seq_id"),
    )
    g = F.greatest(F.col("_cstart"), F.col("seq_id") * L)
    e = F.least(F.col("_cend"), (F.col("seq_id") + 1) * L)
    pieces = spans.select(
        "bucket", "seq_id", F.col(id_col), "chunk_idx",
        (e - g).alias("_np"),
        F.concat_ws(
            " ",
            F.slice(
                F.split(F.col("chunk_text"), " "),
                (g - F.col("_cstart") + 1).cast("int"),
                (e - g).cast("int"),
            ),
        ).alias("_piece"),
    )
    assembled = pieces.groupBy("bucket", "seq_id").agg(
        F.sum("_np").cast("long").alias("n_seq_tokens"),
        F.size(F.collect_set(F.col(id_col))).cast("long").alias("n_docs"),
        F.concat_ws(
            " ",
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col), "chunk_idx", "_piece"))
            ).getField("_piece"),
        ).alias("seq_text"),
    )
    return assembled.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("seq_id").cast("long").alias("seq_id"),
        "n_seq_tokens", "n_docs", "seq_text",
    )


def chunk_containment(docs: DataFrame, chunk_tokens: int = 32,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Partial-duplication detector: per document, the fraction of its
    (distinct) ``chunk_tokens``-sized chunks whose fingerprint also
    appears in ANOTHER document — catches embedded/partial copies that
    whole-document exact dedup misses and near-dup shingling dilutes
    (a 10%-quoted doc still scores ~0.1 here, not a near-dup at all).

    Output: (doc_id, n_chunks, n_shared, containment) over distinct
    chunk fingerprints per doc; containment = n_shared / n_chunks
    rounded to 4 decimals.

    Scale shape (100 TB): chunk fingerprints are md5 strings — one
    (doc, fp) dedupe shuffle, one fp-keyed count, one join back on
    fp, one doc-keyed agg; all keys uniform by construction (md5).
    No pair join anywhere — sharing is counted through the fingerprint
    groupBy, so a chunk shared by 10^6 docs costs one counter, not
    10^12 pairs.
    """
    from pyspark.sql import Window

    fp = (
        chunk_documents(docs, chunk_tokens, id_col, text_col)
        .select(F.col(id_col), F.md5("chunk_text").alias("fp"))
        .distinct()
    )
    # r14 (§2.4, the _dup_span_instances shape): was groupBy(fp).count
    # + join(fp, fp) — the chunk-fingerprint subtree executed twice
    # (once per consumer) with two fp exchanges; a count window over
    # fp yields the same per-fingerprint doc count in ONE pass over
    # ONE fp shuffle, no join.
    return (
        fp.withColumn("_nd", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("_nd") >= 2).cast("long")).cast("long")
            .alias("n_shared"),
        )
        .select(
            F.col(id_col), "n_chunks", "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("n_chunks"), 4)
            .alias("containment"),
        )
    )


def duplicated_spans(docs: DataFrame, span_tokens: int = 16,
                     min_occurrences: int = 2,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact duplicated-substring detection at span granularity — the
    distributed re-expression of suffix-array substring dedup (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): every OVERLAPPING ``span_tokens``-token window (stride
    1) is fingerprinted, and a span instance is duplicated when its
    fingerprint occurs >= ``min_occurrences`` times corpus-wide
    (within- and cross-document occurrences both count, as in the
    paper). Stride-1 windows catch misaligned duplication that
    chunk_containment's disjoint chunks miss: a copied paragraph
    starting mid-chunk shifts every chunk fingerprint but leaves all
    its interior spans intact.

    Output per document: (doc_id, n_tokens, n_spans, n_dup_spans,
    covered_tokens, dup_coverage) where covered_tokens is the length
    of the UNION of the duplicated spans' [pos, pos+k) intervals —
    computed with a lead() window (each span contributes
    min(next_pos - pos, k)), not by materializing per-token rows —
    and dup_coverage = covered_tokens / n_tokens. Docs shorter than
    ``span_tokens`` have zero spans and coverage 0.

    Scale shape (100 TB): ~n_tokens fingerprint rows per doc (the
    honest cost of stride-1 exactness; 16-byte md5 keys, uniform by
    construction) -> one fp-keyed count, one fp join back, one
    doc-keyed window+agg. NO pair join, NO suffix array: a span
    shared by 10^6 docs costs one counter. The window partition is a
    single document's duplicated spans — bounded by doc length.
    """
    k = int(span_tokens)
    sized = _sized_tokens(docs, id_col, text_col)
    dup = _dup_span_instances(_span_instances(sized, k, id_col),
                              int(min_occurrences), id_col)
    return _span_coverage(sized, dup, k, id_col)


def _dup_span_instances(spans: DataFrame, min_occurrences: int,
                        id_col: str) -> DataFrame:
    """(id, pos) of span instances whose fingerprint occurs >=
    ``min_occurrences`` times corpus-wide.

    r14 (§2.4): was groupBy(fp).count + join(spans, fp) — the span
    subtree executed TWICE (once per consumer) and paid two fp
    exchanges. A count window over fp computes the same occurrence
    count in ONE pass over ONE shuffle of the span table, with no
    join — identical (id, pos) output by definition of the group
    count."""
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    return (
        spans.withColumn("n_occ", F.count(F.lit(1)).over(w))
        .where(F.col("n_occ") >= min_occurrences)
        .select(F.col(id_col), "pos")
    )


def _sized_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return with_tokens(docs, id_col, text_col).select(
        F.col(id_col), F.col("tokens"),
        F.size("tokens").cast("long").alias("n_tokens"),
    )


def _span_instances(sized: DataFrame, k: int, id_col: str) -> DataFrame:
    """(id, pos, fp) for every stride-1 k-token span of docs with
    >= k tokens (1-based positions).

    r14 (guide §4.2): the former JVM form evaluated
    ``transform(sequence(...), i -> md5(concat_ws(' ', slice(...))))``
    — an interpreted (CodegenFallback) lambda allocating a k-token
    array and rebuilding the span string per span. The fingerprints
    now come from an Arrow kernel that rejoins the (single-space)
    token stream once per doc, byte-slices each span out of it via
    precomputed token offsets, and md5s the slice — the identical
    bytes, so the identical hex fingerprints (normalized text is pure
    ASCII by construction: [a-z0-9 ]). The n_tokens >= k filter stays
    a JVM scan predicate, and the doc-keyed repartition upstream
    (with_tokens) spreads the kernel work exactly as before."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    id_type = sized.schema[id_col].dataType
    id_arrow = to_arrow_type(id_type)
    out_schema = StructType([
        StructField(id_col, id_type),
        StructField("pos", LongType()),
        StructField("fp", StringType()),
    ])

    def _spans(batches):
        import hashlib

        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids, out_pos, out_fp = [], [], []
            md5 = hashlib.md5
            for rid, s in zip(ids, texts):
                b = s.encode()
                # token byte offsets over the single-space-joined
                # stream (ASCII: char offsets == byte offsets)
                starts = [0]
                for t in s.split(" "):
                    starts.append(starts[-1] + len(t) + 1)
                n = len(starts) - 1
                for i in range(n - k + 1):
                    out_ids.append(rid)
                    out_pos.append(i + 1)
                    out_fp.append(
                        md5(b[starts[i]:starts[i + k] - 1]).hexdigest())
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, type=id_arrow),
                 pa.array(out_pos, type=pa.int64()),
                 pa.array(out_fp, type=pa.string())],
                [id_col, "pos", "fp"])

    return sized.where(F.col("n_tokens") >= k).select(
        F.col(id_col), F.concat_ws(" ", F.col("tokens")).alias("_nt")
    ).mapInArrow(_spans, out_schema)


def _span_coverage(sized: DataFrame, dup: DataFrame, k: int,
                   id_col: str) -> DataFrame:
    """Fold duplicated span positions into the per-doc output row:
    interval-union covered tokens via a lead() window."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    cov = (
        dup.withColumn(
            "contrib",
            F.least(F.coalesce(F.lead("pos").over(w) - F.col("pos"),
                               F.lit(k)), F.lit(k)))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
             F.sum("contrib").cast("long").alias("covered_tokens"))
    )
    return (
        sized.drop("tokens")
        .join(cov, id_col, "left")
        .select(
            F.col(id_col), "n_tokens",
            F.greatest(F.col("n_tokens") - k + 1, F.lit(0)).cast("long")
            .alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long")
            .alias("n_dup_spans"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long")
            .alias("covered_tokens"),
            F.round(F.coalesce("covered_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens"), 4).alias("dup_coverage"),
        )
    )


def duplicated_spans_incremental(corpus: DataFrame, delta: DataFrame,
                                 span_tokens: int = 16,
                                 min_occurrences: int = 2,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 corpus_counts: DataFrame | None = None,
                                 ) -> DataFrame:
    """duplicated_spans for an incoming DELTA batch against an
    existing corpus — the production per-batch shape (the
    dedup_incremental pattern applied to span dedup): the corpus's
    span-fingerprint COUNTS are the stored artifact (here derived
    in-plan; in production a read of the materialized (fp, n) table,
    bucketed on fp), and each batch computes only its own span
    instances and probes. A delta span is duplicated when its
    corpus count + delta count reaches ``min_occurrences``, which
    makes the output EXACTLY duplicated_spans(corpus UNION delta)
    restricted to delta documents — the equivalence the oracle and
    pytest certify.

    Scale shape: wall is a function of the BATCH size (delta spans +
    one probe join into the fp-keyed counts), not the corpus — the
    dedup_incremental flat-wall property, for substring dedup.
    """
    k = int(span_tokens)
    # ``corpus_counts`` is the stored-artifact seam: pass
    # span_store_counts' (fp, n_corpus) table and the corpus is never
    # re-fingerprinted at batch time
    if corpus_counts is not None:
        corpus_occ = corpus_counts
    else:
        corpus_occ = (
            _span_instances(_sized_tokens(corpus, id_col, text_col),
                            k, id_col)
            .groupBy("fp")
            .agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
        )
    from .dedup import _tracked_persist

    sized_d = _sized_tokens(delta, id_col, text_col)
    # persist the delta span instances (r15, guide §5 — the r14
    # "kernel runs 3x" residual): spans_d feeds BOTH the delta fp
    # counts and the dup probe join, so unpersisted the delta span
    # kernel (repartition + Arrow pass) executes twice per batch.
    # Batch-sized rows — the flat-wall property is unchanged.
    # A/B same-session min-of-4 at sf0.1: 2.25 -> 1.93 s (and
    # 2.70 -> 2.54 s in a second window); both runs persist-positive.
    spans_d = _tracked_persist(_span_instances(sized_d, k, id_col))
    # NOTE (r14): the _dup_span_instances count-window rewrite was
    # A/B-tested here and REVERTED (+10% at sf0.1): unlike the
    # whole-corpus form, this path must still join corpus_occ on fp,
    # and the window form pushes every span INSTANCE through that
    # join where the groupBy form probes one row per distinct delta
    # fp — the smaller probe beats saving the (now Arrow-cheap)
    # second span-kernel pass.
    delta_occ = spans_d.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_delta"))
    totals = (
        delta_occ.join(corpus_occ, "fp", "left")
        .select("fp", (F.col("n_delta")
                       + F.coalesce("n_corpus", F.lit(0))).alias("n_occ"))
    )
    dup = spans_d.join(totals.where(F.col("n_occ")
                                    >= int(min_occurrences)),
                       "fp").select(F.col(id_col), "pos")
    return _span_coverage(sized_d, dup, k, id_col)


def remove_duplicated_spans(docs: DataFrame, span_tokens: int = 16,
                            min_occurrences: int = 2,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """The TRANSFORM half of exact-substring dedup (Lee et al. 2021
    apply this to C4/RealNews: duplicated substrings are CUT from the
    training text, not just counted): every token covered by a
    duplicated ``span_tokens``-token window (the same corpus-wide
    >= ``min_occurrences`` fingerprint rule as duplicated_spans) is
    dropped, and the survivors — in original order — are rejoined
    with single spaces as ``clean_text``. Token-level by design: the
    output is the whitespace-normalized token stream a tokenizer
    consumes, so "exactly the uncovered tokens" is a checkable
    contract (conservation: n_tokens_clean = n_tokens -
    covered_tokens, property-tested and oracle-certified).

    Output: (doc_id, n_tokens, covered_tokens, n_tokens_clean,
    clean_text); docs shorter than ``span_tokens`` pass through
    untouched, a fully-duplicated doc yields ''.

    Scale shape (100 TB): the span side is duplicated_spans' (one
    fp-keyed count + one fp join, no pair join). The removal side
    explodes covered positions from the DISJOINT lead()-truncated
    intervals — total rows = covered tokens, never n_spans * k — and
    reassembles per doc with one doc-keyed shuffle (sort_array over
    collect_list of (pos, token) structs; partition = one document,
    bounded by doc length). Everything is codegen'd array exprs —
    no Python.
    """
    from pyspark.sql import Window

    k = int(span_tokens)
    sized = _sized_tokens(docs, id_col, text_col)
    dup = _dup_span_instances(_span_instances(sized, k, id_col),
                              int(min_occurrences), id_col)
    w = Window.partitionBy(id_col).orderBy("pos")
    # disjoint interval decomposition (the _span_coverage trick): each
    # duplicated span contributes [pos, pos + c) with c truncated at
    # the next span start, so exploding them yields each covered
    # position EXACTLY once
    iv = dup.withColumn(
        "c", F.least(F.coalesce(F.lead("pos").over(w) - F.col("pos"),
                                F.lit(k)), F.lit(k)))
    covered = iv.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"),
                             F.col("pos") + F.col("c") - 1)).alias("tpos"),
    )
    toks = sized.select(
        F.col(id_col), "n_tokens",
        F.posexplode_outer("tokens").alias("i0", "tok"),
    ).select(F.col(id_col), "n_tokens",
             (F.col("i0") + 1).cast("long").alias("tpos"), "tok")
    kept = toks.join(covered, [id_col, "tpos"], "left_anti")
    agg = (
        kept.groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens_clean"),
             # .getField, not transform(s -> s["tok"]): the field
             # extraction over array<struct> is a codegen'd
             # GetArrayStructFields, while the lambda form is an
             # interpreted higher-order function (r14, §4.2 class)
             F.concat_ws(" ", F.array_sort(
                 F.collect_list(F.struct("tpos", "tok"))
             ).getField("tok")).alias("clean_text"))
    )
    return (
        sized.drop("tokens")
        .join(agg, id_col, "left")
        .select(
            F.col(id_col), "n_tokens",
            (F.col("n_tokens")
             - F.coalesce("n_tokens_clean", F.lit(0))).cast("long")
            .alias("covered_tokens"),
            F.coalesce("n_tokens_clean", F.lit(0)).cast("long")
            .alias("n_tokens_clean"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )

def span_fp_counts(docs: DataFrame, span_tokens: int = 16,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(fp, n_corpus): corpus-wide stride-1 span-fingerprint counts —
    the additive sufficient statistic of substring dedup (counts of a
    union = sum of counts), shared by span_store_counts (build) and
    the per-batch UPDATE step of a streaming ingest loop (merge =
    unionByName + groupBy-sum on fp)."""
    k = int(span_tokens)
    return (
        _span_instances(_sized_tokens(docs, id_col, text_col), k, id_col)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    )



def span_store_counts(corpus: DataFrame, prefix: str,
                      span_tokens: int = 16, n_buckets: int = 8,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      rebuild_includes_appends: bool = False) -> list[str]:
    """Materialize the corpus span-fingerprint COUNTS as a catalog
    table bucketed on fp — exactly the stored artifact the
    duplicated_spans_incremental docstring promises. One table,
    {prefix}_spancounts (fp, n_corpus); each arriving batch then
    fingerprints only itself and probes (probe ≡ inline,
    test-asserted). At real scale this table is also the thing a
    merge job updates per accepted batch (counts are additive).
    Shared build bracket: sources/readers.py."""
    from ..sources.readers import build_index, write_bucketed

    def write() -> list[str]:
        occ = span_fp_counts(corpus, span_tokens, id_col, text_col)
        write_bucketed(occ, f"{prefix}_spancounts", "fp", n_buckets)
        return [f"{prefix}_spancounts"]

    return build_index(corpus.sparkSession, prefix, write,
                       includes_appends=rebuild_includes_appends)


def span_append_counts(spark, prefix: str, accepted: DataFrame,
                       batch_id: str | None = None,
                       span_tokens: int = 16,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> int:
    """The merge job span_store_counts' docstring promises: fold an
    accepted batch's span-fingerprint counts into the stored
    additive table — fingerprint ONLY the batch, merge-rewrite the
    fp-keyed counts under the catalog's own bucket spec
    (readers.merge_counts). Append cost is O(count table + batch
    text); probing after the append equals probing a one-shot store
    of the union (test-asserted — counts are additive over disjoint
    doc sets). Exactly-once through the shared manifest-bracket
    append (sources/readers.py)."""
    from ..sources.readers import merge_counts, transactional_append

    def stage():
        return accepted.count(), merge_counts(
            spark, f"{prefix}_spancounts",
            span_fp_counts(accepted, span_tokens, id_col, text_col),
            ["fp"], "n_corpus", bucket_col="fp")

    return transactional_append(
        spark, prefix, [f"{prefix}_spancounts"], batch_id,
        "span_append_counts", stage)


def duplicated_spans_incremental_from_store(
        spark, prefix: str, delta: DataFrame, span_tokens: int = 16,
        min_occurrences: int = 2, id_col: str = "doc_id",
        text_col: str = "text") -> DataFrame:
    """Probe-only incremental span dedup against span_store_counts'
    table — the per-batch flat-wall shape, with the corpus-side
    fingerprint pass moved to build time."""
    return duplicated_spans_incremental(
        None, delta, span_tokens=span_tokens,
        min_occurrences=min_occurrences, id_col=id_col,
        text_col=text_col,
        corpus_counts=spark.table(f"{prefix}_spancounts"))
