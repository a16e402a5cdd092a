"""Similarity search over embedding columns (array<float>).

- cosine / dot helpers as pure column expressions (zip_with +
  aggregate fold in DOUBLE — JVM-side, no Python)
- brute_force_topk: exact cosine top-k per query (cross join + rank);
  the correctness baseline. Cost O(|Q| x |C|) — only for small query
  sets or verification.
- hyperplane_lsh_topk: random-hyperplane LSH — 1-bit signature per
  plane, vectors bucketed by the sign pattern; top-k searched within
  the query's bucket only. The scale path: the bucket id is the
  shuffle key, candidate sets shrink by ~2^planes, and the plane
  weights are derived from md5 so both engines (and any future
  executor) regenerate them identically — no side-channel state.

All float math is promoted to DOUBLE before the fold so results are
reproducible and match the DuckDB oracle (list_dot_product on
DOUBLE[] lists) to well below the 4-decimal rounding used in outputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# re-exported: the append entry points here raise MaintenanceFailedError
from ..sources.readers import (  # noqa: F401
    MaintenanceFailedError,
    _maybe_auto_compact,
)


def _segment_sums(cent, fx):
    """(uniq, sums, counts): int64 column sums of ``fx`` grouped by
    assignment ``cent`` — one stable argsort + np.add.reduceat instead
    of one boolean mask per distinct centroid (the r14 vectorization;
    int64 addition is associative, so totals are bit-identical to the
    per-mask form on any ordering)."""
    import numpy as np

    order = np.argsort(cent, kind="stable")
    fs = fx[order]
    cs = cent[order]
    uniq, starts = np.unique(cs, return_index=True)
    sums = np.add.reduceat(fs, starts, axis=0)
    counts = np.diff(np.append(starts, cs.size))
    return uniq, sums, counts


def _unit_rows(x):
    """Drop zero-norm rows and unit-normalize, replicating the JVM
    ``where(norm_expr > 0) + transform(x / nrm)`` projection BIT FOR
    BIT: norm_expr is a strict left fold (((0+x0^2)+x1^2)+...), so
    the accumulator loops dims in order (vectorized across rows);
    sqrt and the per-element division are the same IEEE-754 ops the
    JVM evaluates. Exists because the JVM form is interpreted
    (higher-order functions are CodegenFallback) and — worse — a
    lambda referencing the fold re-evaluates it per ELEMENT (measured
    0.59 s vs 0.13 s per sf0.1 pass); Catalyst's project collapsing
    re-inlines any attempt to hoist it, so the normalization moved
    into the Arrow kernels instead (guide §4.2)."""
    import numpy as np

    acc = np.zeros(x.shape[0])
    for j in range(x.shape[1]):
        xj = x[:, j]
        acc = acc + xj * xj
    nrm = np.sqrt(acc)
    keep = nrm > 0
    if not keep.all():
        x = x[keep]
        nrm = nrm[keep]
    return x / nrm[:, None]


def _batch_mat(col, dtype="float64"):
    """(n, d) ndarray from one Arrow ``list<numeric>`` record-batch
    column — the §4.2 zero-copy path: a list column is one contiguous
    values buffer plus offsets, so the dense matrix is a flatten +
    reshape instead of a per-row object conversion (measured 0.29 s
    -> 0.7 ms at 50k x 64; every embedding kernel pays this per
    pass). Rows must be fixed-width and non-null (the embedding
    contract) — ragged input fails loudly in the reshape."""
    import numpy as np

    assert col.null_count == 0, "embedding column contains nulls"
    n = len(col)
    vals = col.flatten().to_numpy(zero_copy_only=False)
    if n == 0:
        return np.empty((0, 0), dtype=dtype)
    return vals.astype(dtype, copy=False).reshape(n, -1)


def _list_col(mat, arrow_type=None):
    """Arrow ``list<arrow_type>`` array from a contiguous (n, d)
    matrix — a computed offsets array over the raveled values buffer
    (guide §4.2's re-slice trick), not a per-row list build."""
    import numpy as np
    import pyarrow as pa

    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32),
                       type=pa.int32())
    values = pa.array(mat.ravel(), type=arrow_type)
    return pa.ListArray.from_arrays(offsets, values)


def dot_expr(a: str, b: str) -> Column:
    """Sum_i a[i]*b[i] in DOUBLE (deterministic left fold)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> cast(x AS DOUBLE) * cast(y AS DOUBLE)), "
        f"cast(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE)), "
            f"cast(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )


def _normed(vecs: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    return vecs.select(
        F.col(id_col).alias(f"{prefix}_id"),
        F.col(vec_col).alias(f"{prefix}_vec"),
        norm_expr(vec_col).alias(f"{prefix}_norm"),
    )


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k of corpus per query vector (self excluded).

    Queries are broadcast (the small side by contract); the corpus is
    scanned once per partition with no shuffle until the final
    per-query rank. Output: (query_id, neighbor_id, cosine, rnk).
    """
    q = _normed(queries, id_col, vec_col, "q")
    c = _normed(corpus, id_col, vec_col, "c")
    cos = (dot_expr("q_vec", "c_vec")
           / (F.col("q_norm") * F.col("c_norm")))
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            cos.alias("_cos"),
        )
    )
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id",
                F.round("_cos", 4).alias("cosine"),
                F.col("rnk").cast("long").alias("rnk"))
    )


def brute_force_topk_arrow(queries: DataFrame, corpus: DataFrame, k: int,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k via an Arrow/numpy scan — same output as
    brute_force_topk, built for volume.

    The query set is collected to a dense matrix and closed over (its
    role is broadcast state — it must be small by contract; guarded at
    4096 rows). Each corpus partition streams through mapInPandas and
    multiplies against the query matrix at BLAS speed, keeping only its
    local top-k per query; the final global top-k reduces
    #partitions x k rows per query with the same rank expression as the
    baseline. Spark-side: one scan, no shuffle until the tiny rank.
    """
    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not q_rows:
        raise ValueError("empty query set")
    if len(q_rows) > 4096:
        raise ValueError(
            f"{len(q_rows)} query vectors; brute_force_topk_arrow "
            "broadcasts the query set — use hyperplane_lsh_topk or "
            "block the queries for larger sets"
        )
    import numpy as np

    q_ids = [int(r[0]) for r in q_rows]
    q_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    k_ = int(k)

    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("_cos", DoubleType()),
    ])

    def _scan(batches):
        import numpy as np
        import pyarrow as pa

        qm = q_mat
        qids = np.asarray(q_ids, dtype="int64")
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy().astype("int64")
            x = _batch_mat(batch.column(1))
            # sort by id so the stable argsort below breaks exact-cosine
            # ties by neighbor_id asc — the same total order the final
            # rank (and the SQL oracle) uses
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            x = x[order]
            x /= np.linalg.norm(x, axis=1, keepdims=True)
            cos = qm @ x.T                      # (nq, batch)
            self_mask = qids[:, None] == ids[None, :]
            cos_m = np.where(self_mask, -np.inf, cos)
            take = min(k_, cos_m.shape[1])
            idx = np.argsort(-cos_m, axis=1, kind="stable")[:, :take]
            c = np.take_along_axis(cos_m, idx, axis=1).ravel()
            keep = c != -np.inf
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(qids, take)[keep], type=pa.int64()),
                 pa.array(ids[idx.ravel()][keep], type=pa.int64()),
                 pa.array(c[keep], type=pa.float64())],
                ["query_id", "neighbor_id", "_cos"])

    scored = corpus.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _scan, out_schema
    )
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k_)
        .select("query_id", "neighbor_id",
                F.round("_cos", 4).alias("cosine"),
                F.col("rnk").cast("long").alias("rnk"))
    )


def hyperplane_weights(plane: int, dims: int) -> list[float]:
    """md5-derived weights in [-1, 1], computed once on the driver.

    w[p][d] = ((md5_long('p_d') % 2001) - 1000) / 1000.0 — stateless
    and reproducible in any engine with md5 (the DuckDB oracle builds
    the same lists from the same formula). Evaluating md5 driver-side
    instead of inside the row expression matters: as a per-row
    ``transform(sequence(...), md5(...))`` the executor recomputed
    planes x dims md5 calls for EVERY row (~2M at sf0.1); as a literal
    array Catalyst constant-folds it.
    """
    import hashlib

    out = []
    for d in range(dims):
        h = hashlib.md5(f"{plane}_{d}".encode()).hexdigest()
        out.append((int(h[:15], 16) % 2001 - 1000) / 1000.0)
    return out


def hyperplane_weight_expr(plane: int, dims: int) -> str:
    """SQL literal array of the driver-computed plane weights."""
    vals = ", ".join(f"cast({w!r} AS DOUBLE)" for w in hyperplane_weights(plane, dims))
    return f"array({vals})"


def lsh_bucket_expr(vec_col: str, planes: int, dims: int,
                    first_plane: int = 0) -> Column:
    """Bucket id: bit p set iff dot(vec, plane_{first_plane + p}) >= 0.

    ``first_plane`` selects a disjoint plane family per LSH table
    (table t uses planes [t * planes, (t+1) * planes)), so multi-table
    OR-construction needs no extra state — every engine regenerates
    any table's planes from the global plane index alone.
    """
    bucket = None
    for p in range(planes):
        dot = F.expr(
            f"aggregate(zip_with({vec_col}, "
            f"{hyperplane_weight_expr(first_plane + p, dims)}, "
            f"(x, w) -> cast(x AS DOUBLE) * w), cast(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        term = F.when(dot >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = term if bucket is None else bucket + term
    return bucket


def hyperplane_lsh_topk(queries: DataFrame, corpus: DataFrame, k: int,
                        planes: int = 6, dims: int = 64,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        probes: int = 0) -> DataFrame:
    """Approximate cosine top-k: candidates share the query's LSH bucket.

    Recall is tunable two ways: ``planes`` (fewer planes -> bigger
    buckets -> higher recall, more compute) and ``probes`` —
    multi-probe LSH: each query also searches the ``probes`` buckets
    at Hamming distance 1 (one sign bit flipped), recovering neighbors
    that fell just across a hyperplane. Probing expands only the tiny
    query side (probes+1 rows per query); the corpus keeps one bucket
    per vector, so candidates stay unique per (query, neighbor) and
    the join still shuffles on the bucket id. probes=planes searches
    every distance-1 bucket.
    """
    q = _normed(queries, id_col, vec_col, "q").withColumn(
        "bucket", lsh_bucket_expr("q_vec", planes, dims)
    )
    if probes:
        probe_arr = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)).cast("long")
              for p in range(min(probes, planes))],
        )
        q = q.withColumn("bucket", F.explode(probe_arr))
    c = _normed(corpus, id_col, vec_col, "c").withColumn(
        "bucket", lsh_bucket_expr("c_vec", planes, dims)
    )
    cos = (dot_expr("q_vec", "c_vec")
           / (F.col("q_norm") * F.col("c_norm")))
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            cos.alias("_cos"),
        )
    )
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id",
                F.round("_cos", 4).alias("cosine"),
                F.col("rnk").cast("long").alias("rnk"))
    )


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int,
             n_centroids: int = 32, nprobe: int = 2,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF (inverted-file) approximate top-k: a deterministic coarse
    quantizer partitions the corpus into centroid lists; each query
    probes only its ``nprobe`` nearest lists.

    The centroid set is the ``n_centroids`` corpus rows with the
    smallest md5_long(vector content) — the hash key is the vector's
    fixed-point (1e-6) serialization, NOT the row id, so the selected
    centroids (and therefore the neighbors) are invariant under any
    id renaming or id-type change (long ids vs string ids pick the
    same centroid VECTORS; see test_ivf_supports_string_ids). A
    stateless, reproducible quantizer whose size is FIXED regardless
    of corpus size (a trained k-means would drop in the same slot;
    determinism is what the oracle gate needs). The selection is a
    top-K by hash, which Spark executes as
    TakeOrderedAndProject (map-side partial top-K, no global sort);
    the K rows that reach the driver are O(n_centroids), never
    O(|corpus|). Query probing keeps the DOUBLE left-fold expressions
    (the query set is small); the corpus assignment — the
    O(|corpus| x n_centroids) stage — runs as an Arrow/numpy scan
    (the folds are CodegenFallback and evaluate interpreted: 805k
    pairs x 64 dims measured 2.8 s at sf0.1, vs ~0.5 s for the BLAS
    scan). At real scale persist the assignment as a table bucketed
    by cent_id — the probe join is then a pruned partition read.

    Recall tuning: nprobe up, n_centroids up (more, smaller lists).
    """
    from pyspark.sql import Window

    from .dedup import md5_long

    # one TakeOrderedAndProject job selects the K centroid rows; they
    # are collected ONCE (K rows — bounded regardless of corpus size)
    # and both consumers (the broadcast probe join and the numpy
    # assignment matrix) are rebuilt from the local copy, so the
    # corpus top-K scan runs exactly once
    cent_rows = (
        corpus.select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).alias("cent_vec"),
        )
        # id-representation-invariant selection key: fixed-point
        # serialization of the vector itself (same 1e-6 convention as
        # group_centroids, so the DuckDB oracle reproduces it exactly);
        # tiebreak by the serialized key, then cent_id only for exact
        # duplicate vectors (where either pick yields the same centroid
        # vector anyway)
        .withColumn("_key", F.concat_ws(",", F.transform(
            F.col("cent_vec"),
            lambda x: F.round(x.cast("double") * 1_000_000, 0)
            .cast("long").cast("string"))))
        .withColumn("_h", md5_long(F.col("_key")))
        # tiebreak on cent_id, not _key: keeps ~KB strings out of the
        # TakeOrdered comparator; id-dependence re-enters only on a
        # 60-bit hash collision (i.e. never in practice)
        .orderBy("_h", "cent_id")
        .limit(n_centroids)
        .drop("_h", "_key")
        .collect()
    )
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        cent_rows,
        StructType([
            # id type mirrors the corpus id column (string ids work too)
            StructField("cent_id", corpus.schema[id_col].dataType),
            StructField("cent_vec", corpus.schema[vec_col].dataType),
        ]),
    ).select("cent_id", "cent_vec", norm_expr("cent_vec").alias("cent_norm"))

    def nearest(side: DataFrame, prefix: str, topn: int) -> DataFrame:
        s = _normed(side, id_col, vec_col, prefix)
        cos = (dot_expr(f"{prefix}_vec", "cent_vec")
               / (F.col(f"{prefix}_norm") * F.col("cent_norm")))
        scored = s.join(F.broadcast(cents)).select(
            F.col(f"{prefix}_id"), F.col(f"{prefix}_vec"),
            F.col(f"{prefix}_norm"), F.col("cent_id"), cos.alias("_ccos"),
        )
        w = Window.partitionBy(f"{prefix}_id").orderBy(
            F.col("_ccos").desc(), F.col("cent_id").asc()
        )
        return (scored.withColumn("_crnk", F.row_number().over(w))
                .where(F.col("_crnk") <= topn)
                .drop("_ccos", "_crnk"))

    def assign_arrow(side: DataFrame, prefix: str) -> DataFrame:
        # centroid matrix is broadcast state (exactly n_centroids rows,
        # independent of corpus size, already collected); rows sorted
        # by cent_id so argmax's first-max matches the cent_id-asc
        # tiebreak of the SQL form and the oracle
        import numpy as np

        by_id = sorted(cent_rows, key=lambda r: r[0])
        c_ids = np.array([r[0] for r in by_id])
        c_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in by_id])
        c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)

        id_type = side.schema[id_col].dataType
        out_schema = StructType([
            StructField(f"{prefix}_id", id_type),
            StructField(f"{prefix}_vec", side.schema[vec_col].dataType),
            StructField(f"{prefix}_norm", DoubleType()),
            StructField("cent_id", id_type),
        ])

        from pyspark.sql.pandas.types import to_arrow_type

        cent_arrow_type = to_arrow_type(id_type)

        def _scan(batches):
            import pyarrow as pa

            for batch in batches:
                if batch.num_rows == 0:
                    continue
                x = _batch_mat(batch.column(1))
                norms = np.linalg.norm(x, axis=1)
                best = np.argmax((x / norms[:, None]) @ c_mat.T, axis=1)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(0), batch.column(1),
                     pa.array(norms, type=pa.float64()),
                     pa.array(c_ids[best]).cast(cent_arrow_type)],
                    [f"{prefix}_id", f"{prefix}_vec",
                     f"{prefix}_norm", "cent_id"])

        return side.select(F.col(id_col), F.col(vec_col)).mapInArrow(
            _scan, out_schema
        )

    corpus_assigned = assign_arrow(corpus, "c")
    query_probes = nearest(queries, "q", nprobe)
    cos = (dot_expr("q_vec", "c_vec")
           / (F.col("q_norm") * F.col("c_norm")))
    cand = (
        corpus_assigned.join(query_probes, "cent_id")
        .where(F.col("q_id") != F.col("c_id"))
        .select(F.col("q_id").alias("query_id"),
                F.col("c_id").alias("neighbor_id"),
                cos.alias("_cos"))
        # no distinct needed: each corpus vector belongs to exactly one
        # centroid list, so a (query, neighbor) pair occurs once
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id",
                F.round("_cos", 4).alias("cosine"),
                F.col("rnk").cast("long").alias("rnk"))
    )


def quantize_embeddings(vecs: DataFrame,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization per vector: q_i = floor(x_i * 127 /
    amax + 0.5) with amax = max |x_i| — the 4x storage/bandwidth
    reduction an embedding corpus takes before ANN at 100 TB scale
    (dequantization error <= scale/2 per component, scale = amax/127).

    Pure column expressions (transform/aggregate folds on DOUBLE) —
    shuffle-free scan, and every arithmetic step is order-identical in
    DuckDB so the quantized values are oracle-checkable bit-for-bit.
    Output keeps the int8 codes as an array plus summary stats
    (q_sum/q_min/q_max) so the oracle can gate on scalars.
    """
    amax = F.expr(
        f"aggregate(transform({vec_col}, x -> abs(cast(x AS DOUBLE))), "
        f"cast(0 AS DOUBLE), (acc, v) -> greatest(acc, v))"
    )
    v = vecs.select(
        F.col(id_col), F.col(vec_col), amax.alias("_amax")
    )
    q = F.expr(
        f"transform({vec_col}, x -> CASE WHEN _amax = 0 THEN cast(0 AS BIGINT) "
        f"ELSE cast(floor(cast(x AS DOUBLE) * 127 / _amax + 0.5) AS BIGINT) END)"
    )
    v = v.withColumn("q", q)
    return v.select(
        F.col(id_col),
        F.round(F.col("_amax") / 127, 9).alias("scale"),
        F.col("q"),
        F.expr("aggregate(q, cast(0 AS BIGINT), (a, b) -> a + b)").alias("q_sum"),
        F.array_min("q").cast("long").alias("q_min"),
        F.array_max("q").cast("long").alias("q_max"),
        F.size(F.col(vec_col)).cast("long").alias("n_dims"),
    )


def group_centroids(vecs: DataFrame, labels: DataFrame,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    label_col: str = "lang") -> DataFrame:
    """Element-wise mean vector per label group — class centroids,
    per-domain embedding drift monitoring, and exactly the k-means
    update step an IVF index trains with.

    Scale shape: posexplode to (label, dim, value) -> ONE shuffle on
    the uniform (label, dim) composite key with map-side partial
    sums (label imbalance doesn't skew the reduce: each reducer key
    receives one partial per map partition), then a per-label
    re-assembly ordered by dim. Sums use FIXED-POINT (1e-6) integers
    so the total is independent of addition order — cross-row double
    sums are the one aggregation IEEE makes nondeterministic under
    repartitioning, and the integer form is also what makes the
    DuckDB oracle bit-exact.
    """
    j = vecs.select(F.col(id_col), F.col(vec_col)).join(
        labels.select(F.col(id_col), F.col(label_col)), id_col)
    ex = j.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "v")
    ).select(
        label_col, "dim",
        F.round(F.col("v").cast("double") * 1_000_000, 0).cast("long")
        .alias("_f"),
    )
    per_dim = ex.groupBy(label_col, "dim").agg(
        F.sum("_f").alias("_s"), F.count(F.lit(1)).alias("_c"))
    assembled = per_dim.groupBy(label_col).agg(
        F.max("_c").cast("long").alias("n_vecs"),
        F.array_sort(F.collect_list(F.struct("dim", "_s"))).alias("_ds"),
    )
    centroid = F.transform(
        F.col("_ds"),
        lambda x: F.round(
            x["_s"].cast("double") / 1_000_000.0 / F.col("n_vecs"), 6),
    )
    return assembled.select(
        F.col(label_col), "n_vecs", centroid.alias("centroid"))


def cosine_pairs(vecs: DataFrame, threshold: float,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """All pairs (a < b) with cosine >= threshold (embedding near-dup).

    Row-expression O(n^2) formulation — the readable baseline. Use
    cosine_pairs_blocked for real runs: identical output, ~10x faster
    (per-pair higher-order-function folds are CodegenFallback and
    evaluate interpreted).
    """
    a = _normed(vecs, id_col, vec_col, "a")
    b = _normed(vecs, id_col, vec_col, "b")
    cos = dot_expr("a_vec", "b_vec") / (F.col("a_norm") * F.col("b_norm"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"),
                F.round(cos, 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


_PAIR_SCHEMA = StructType([
    StructField("id_a", LongType()),
    StructField("id_b", LongType()),
    StructField("cosine", DoubleType()),
])


def _make_block_pair_fn(thr: float):
    """Blocked-GEMM pair kernel shared by cosine_pairs_blocked and
    cosine_pairs_lsh: scores side-a x side-b of one (bi, bj) block
    pair, emitting (id_a < id_b, cosine >= thr). The group key's LAST
    two fields must be (bi, bj) — leading fields (LSH table, bucket)
    are ignored, so the same kernel serves both the full-corpus and
    the per-bucket decompositions.
    """

    def _block_pairs(key, pdf):
        import numpy as np
        import pandas as pd

        bi, bj = key[-2], key[-1]
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"})
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if len(a) == 0 or len(b) == 0:
            return empty
        ids_a = a["vid"].to_numpy()
        ids_b = b["vid"].to_numpy()
        xa = np.array([np.asarray(e, dtype=np.float64) for e in a["vec"]])
        xb = np.array([np.asarray(e, dtype=np.float64) for e in b["vec"]])
        xa /= np.linalg.norm(xa, axis=1, keepdims=True)
        xb /= np.linalg.norm(xb, axis=1, keepdims=True)
        # strip the GEMM so the sim matrix (and its rounding-chain
        # temporaries) peaks at ~4M cells regardless of block size:
        # an UNstripped |a| x |b| float64 matrix at 7.5k-row blocks is
        # ~450 MB x 4 temporaries x 32 concurrent tasks — measured as
        # a 190x wall blowup at 30x sf0.1 before this bound existed
        strip = max(1, 4_000_000 // max(1, len(ids_b)))
        parts = []
        for s in range(0, len(ids_a), strip):
            # HALF_UP at 4 dp, matching F.round/DuckDB (ADVICE r13) —
            # np.round's half-even flips exact dyadic ties vs the SQL
            # twin
            cos = xa[s:s + strip] @ xb.T
            cos = np.copysign(np.floor(np.abs(cos) * 1e4 + 0.5), cos) / 1e4
            ia, ib = np.where(cos >= thr)
            if bi == bj:
                # same block on both sides: every unordered pair
                # appears in both orientations — keep exactly a<b
                keep = ids_a[s + ia] < ids_b[ib]
                ia, ib = ia[keep], ib[keep]
                lo, hi = ids_a[s + ia], ids_b[ib]
            else:
                # distinct blocks: each unordered pair appears exactly
                # once; normalize the id order in the output
                lo = np.minimum(ids_a[s + ia], ids_b[ib])
                hi = np.maximum(ids_a[s + ia], ids_b[ib])
            parts.append(pd.DataFrame({
                "id_a": lo.astype("int64"),
                "id_b": hi.astype("int64"),
                "cosine": cos[ia, ib],
            }))
        return pd.concat(parts, ignore_index=True) if parts else empty

    return _block_pairs


def cosine_pairs_lsh(vecs: DataFrame, threshold: float,
                     planes: int = 4, dims: int = 64,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     n_blocks: int = 4,
                     tables: int = 1) -> DataFrame:
    """Near-dup pairs (cosine >= threshold) with LSH candidate pruning
    — the sub-quadratic path for embedding dedup at corpus scale.

    Each vector lands in exactly ONE sign-pattern bucket per LSH
    table; within a bucket, pairs are scored by the same blocked-GEMM
    decomposition as cosine_pairs_blocked, keyed by
    (table, bucket, bi, bj): each vector is hashed into one of
    ``n_blocks`` blocks and replicated to the block pairs containing
    it, so per-task memory is bounded by 2 x |bucket| / n_blocks
    REGARDLESS of bucket skew — a degenerate bucket (half the corpus
    sharing a sign pattern) becomes n_blocks(n_blocks+1)/2 bounded
    tasks instead of one executor-OOM pandas frame. The GEMM runs at
    BLAS speed (a SQL bucket self-join + per-pair fold was measured
    4x SLOWER than the exact blocked GEMM at 10x sf0.1 — interpreted
    folds lose to dense math even with 16x fewer pairs).

    Output has no false positives (exact cosine verify); false
    negatives are pairs no table buckets together — per plane the
    collision probability is 1 - acos(t)/pi, so recall is tuned by
    fewer ``planes`` (bigger buckets) or more ``tables``
    (OR-construction: table t uses the disjoint plane family
    [t*planes, (t+1)*planes), a pair survives if ANY table buckets
    it together; duplicates are dropped on (id_a, id_b)). The output
    pair set is invariant in ``n_blocks`` (pure decomposition).
    """
    v0 = vecs.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    blk = F.pmod(F.col("vid"), F.lit(n_blocks)).cast("int")
    fn = _make_block_pair_fn(float(threshold))

    per_table = []
    for t in range(tables):
        vt = v0.select(
            "vid", "vec",
            lsh_bucket_expr("vec", planes, dims, first_plane=t * planes)
            .alias("bucket"),
            blk.alias("blk"),
        )
        # side A of block pair (blk, j) for j >= blk; side B of (i, blk)
        # for i <= blk — identical replication scheme to
        # cosine_pairs_blocked, scoped per bucket
        as_a = vt.select(
            "vid", "vec", "bucket", F.col("blk").alias("bi"),
            F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
            F.lit("a").alias("side"),
        )
        as_b = vt.select(
            "vid", "vec", "bucket",
            F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
            F.col("blk").alias("bj"),
            F.lit("b").alias("side"),
        )
        pairs_t = (
            as_a.unionByName(as_b)
            .groupBy("bucket", "bi", "bj")
            .applyInPandas(fn, _PAIR_SCHEMA)
        )
        per_table.append(pairs_t)
    if tables == 1:
        return per_table[0]
    out = per_table[0]
    for pt in per_table[1:]:
        out = out.unionByName(pt)
    # a pair found by several tables has the same exact-verified cosine
    # in each — one dedup shuffle on the pair key
    return out.dropDuplicates(["id_a", "id_b"])


def cosine_pairs_blocked(vecs: DataFrame, threshold: float,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         n_blocks: int = 8) -> DataFrame:
    """All-pairs cosine >= threshold via block-partitioned matrix
    multiply — the 100 TB formulation of cosine_pairs (same output).

    Vectors are hashed into ``n_blocks`` blocks; every unordered block
    pair (i <= j) becomes one group key, and each vector is replicated
    to the n_blocks+1 group keys whose pair contains its block. An
    applyInPandas stage then runs an O((n/B)^2 * d) numpy GEMM per
    group — Arrow-batched, C-speed, no per-row Python. Total work is
    identical to the naive quadratic but:

    - replication cost is n * (B+1) rows (choose B ~ sqrt(cluster
      cores); each group's two blocks must fit executor memory),
    - groups are independent — B(B+1)/2 parallel tasks, one shuffle,
    - per-group compute is a dense matmul at memory bandwidth instead
      of 25M interpreted expression folds.

    Measured sf0.1 (5k x 64): 26s expression form -> ~2s blocked.
    """
    b_col = F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int")
    v = vecs.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        b_col.alias("blk"),
    )
    # side A of pair (blk, j) for j >= blk; side B of pair (i, blk), i <= blk
    as_a = v.select(
        "vid", "vec", F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
        F.lit("a").alias("side"),
    )
    as_b = v.select(
        "vid", "vec",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit("b").alias("side"),
    )
    tagged = as_a.unionByName(as_b)
    return tagged.groupBy("bi", "bj").applyInPandas(
        _make_block_pair_fn(float(threshold)), _PAIR_SCHEMA
    )


def kmeans_fit(vecs: DataFrame, k: int, iters: int = 5,
               id_col: str = "vec_id",
               vec_col: str = "embedding",
               metric: str = "cosine") -> list[list[float]]:
    """Lloyd's k-means over the embedding corpus — the TRAINED coarse
    quantizer that drops into ivf_topk's centroid slot (its docstring
    promises the slot; this fills it). Returns k centroid vectors as
    plain python lists, sorted by first component for determinism.

    metric='cosine' (default) runs SPHERICAL k-means (ADVICE r4:
    ivf_topk_trained assigns and probes by cosine, so the quantizer
    must train in the same geometry or its Voronoi cells don't match
    the probe's): vectors are unit-normalized before training,
    assignment is argmax dot against re-normalized centroids, and
    zero vectors are dropped. metric='euclid' keeps plain Lloyd's on
    the raw vectors.

    Deterministic by construction: initialization is the same
    content-hash top-K selection ivf_topk uses (no RNG), the
    assignment step is an Arrow/BLAS argmax scan (ties -> lowest
    centroid index), and the update step sums in FIXED-POINT (1e-6)
    integers on the uniform (centroid, dim) key — so refits on
    repartitioned data produce bit-identical centroids
    (the group_centroids rationale). Empty clusters keep their
    previous centroid.

    Scale shape (100 TB): per iteration, ONE corpus scan (mapInPandas
    assigns against k broadcast centroids AND pre-aggregates the
    fixed-point update in-task, the pq_fit pattern) + ONE shuffle of
    k*d partial rows per task — the vector column never re-crosses
    Arrow and the shuffle is corpus-size-independent; centroids
    collected to the driver are k rows regardless of corpus size.
    """
    import numpy as np

    if metric not in ("cosine", "euclid"):
        raise ValueError(f"unknown metric {metric!r}; "
                         "use 'cosine' or 'euclid'")
    # r14 (§4.2): the JVM normalization projection is interpreted and
    # re-evaluates the norm fold per element (see _unit_rows) — ~0.5 s
    # per sf0.1 pass. The INIT pass keeps it (its md5 content-hash
    # keys are built JVM-side over the normalized values); the
    # per-iteration scans feed the RAW column and normalize inside
    # the Arrow kernel via _unit_rows, which replicates the JVM
    # projection bit-for-bit — centroids are unchanged.
    raw_scan = vecs.select(F.col(vec_col))
    if metric == "cosine":
        nrm = norm_expr(vec_col)
        vecs = vecs.where(nrm > 0).select(
            F.transform(
                F.col(vec_col), lambda x: x.cast("double") / nrm
            ).alias(vec_col))

    # r14 (§4.2): the content-hash init used to build its keys with an
    # interpreted per-element transform over the (equally interpreted)
    # normalized frame — ~0.8 s per fit at sf0.1. The SAME selection
    # now runs inside an Arrow kernel: normalize via _unit_rows
    # (bit-identical), fixed-point the coordinates with the identical
    # HALF_UP rule the update step uses (replicates
    # F.round(x*1e6, 0).cast long — same tie-set argument as there),
    # md5 the identical ","-joined key string, and emit only each
    # batch's k smallest (_h, _key) candidates — a superset of the
    # global top-k, which the tiny JVM TakeOrdered then finishes with
    # the same (_h, _key) binary string order (pure-ASCII keys, so
    # Python's sort and UTF8String.compare agree).
    init_schema = StructType([
        StructField("_h", LongType()),
        StructField("_key", StringType()),
        StructField("v", ArrayType(DoubleType())),
    ])

    def _init_cands(batches):
        import hashlib

        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            x = _batch_mat(batch.column(0))
            if metric == "cosine":
                x = _unit_rows(x)
                if x.shape[0] == 0:
                    continue
            fx = np.copysign(
                np.floor(np.abs(x) * 1_000_000 + 0.5), x).astype("int64")
            cands = []
            for i in range(fx.shape[0]):
                key = ",".join(str(v) for v in fx[i])
                cands.append(
                    (int(hashlib.md5(key.encode()).hexdigest()[:15], 16),
                     key, i))
            cands.sort(key=lambda t: (t[0], t[1]))
            cands = cands[:k]
            yield pa.RecordBatch.from_arrays(
                [pa.array([t[0] for t in cands], type=pa.int64()),
                 pa.array([t[1] for t in cands], type=pa.string()),
                 _list_col(x[[t[2] for t in cands]], pa.float64())],
                ["_h", "_key", "v"])

    init_rows = (
        raw_scan.mapInArrow(_init_cands, init_schema)
        .orderBy("_h", "_key")
        .limit(k)
        .select("v")
        .collect()
    )
    cents = np.array([np.asarray(r[0], dtype=np.float64)
                      for r in init_rows])

    assign_schema = StructType([
        StructField("cent", IntegerType()),
        StructField("dim", IntegerType()),
        StructField("s", LongType()),
        StructField("n", LongType()),
    ])

    for _ in range(max(0, iters)):
        if metric == "cosine":
            # spherical assignment: data is unit-normalized, so argmax
            # dot against re-normalized centroids IS argmax cosine —
            # the exact cell geometry ivf_topk_trained probes with
            c_norms = np.linalg.norm(cents, axis=1, keepdims=True)
            c_norms[c_norms == 0] = 1.0
            c_mat = cents / c_norms
            half_sq = np.zeros(cents.shape[0])
        else:
            c_mat = cents
            half_sq = 0.5 * (c_mat * c_mat).sum(axis=1)

        def _assign_partials(batches):
            import pyarrow as pa

            # assignment AND the fixed-point partial update in ONE
            # Arrow pass (the pq_fit pattern): the shuffle moves
            # k*d partial rows per task instead of the corpus'
            # vectors + a d-per-row explode, and the vector column
            # never crosses Arrow a second time. Per-element HALF_UP
            # (copysign/floor) replicates F.round exactly — n+0.5 is
            # exactly representable at |x*1e6| <= 1e6 so the decimal
            # and binary tie sets coincide — and int64 partial sums
            # are associative, so centroids are bit-identical to the
            # former posexplode+groupBy path on any partitioning.
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                x = _batch_mat(batch.column(0))
                if metric == "cosine":
                    x = _unit_rows(x)
                    if x.shape[0] == 0:
                        continue
                # (squared-euclidean via the dot trick, or plain dot on
                # the unit sphere); argmax returns the FIRST max ->
                # lowest centroid index on ties
                d = x @ c_mat.T - half_sq
                cent = d.argmax(axis=1)
                fx = np.copysign(
                    np.floor(np.abs(x) * 1_000_000 + 0.5), x
                ).astype("int64")
                dim_n = x.shape[1]
                uniq, sums, nn = _segment_sums(cent, fx)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.repeat(uniq, dim_n).astype("int32")),
                     pa.array(np.tile(np.arange(dim_n, dtype="int32"),
                                      uniq.size)),
                     pa.array(sums.ravel(), type=pa.int64()),
                     pa.array(np.repeat(nn, dim_n).astype("int64"))],
                    ["cent", "dim", "s", "n"])

        # toArrow (not collect): the k*d partial rows land as columnar
        # buffers and the update is one vectorized scatter — same
        # divisions in the same order as the former per-row loop
        per_dim = (
            raw_scan
            .mapInArrow(_assign_partials, assign_schema)
            .groupBy("cent", "dim")
            .agg(F.sum("s").alias("s"),
                 F.sum("n").cast("long").alias("n"))
            .toArrow()
        )
        new = cents.copy()
        c_a = per_dim["cent"].to_numpy()
        d_a = per_dim["dim"].to_numpy()
        s_a = per_dim["s"].to_numpy()
        n_a = per_dim["n"].to_numpy()
        new[c_a, d_a] = s_a / 1_000_000.0 / n_a
        cents = new
    return sorted(
        (([float(x) for x in row]) for row in cents),
        key=lambda row: row,
    )


def ivf_topk_trained(queries: DataFrame, corpus: DataFrame, k: int,
                     n_centroids: int = 32, nprobe: int = 2,
                     train_iters: int = 3,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """ivf_topk with a TRAINED (spherical k-means) coarse quantizer
    instead of the content-hash sample quantizer. What training buys
    (and what the gate asserts) is BALANCED inverted lists — a lower
    max cell size, which at 100 TB bounds the candidate-join fan-out
    of the hottest bucket. Recall at equal nprobe is comparable but
    NOT strictly higher (ADVICE r4): balanced cells carry fewer
    candidates per probe, so on small corpora the unbalanced sample
    quantizer can edge it by a few points. Training is
    cosine-consistent — kmeans_fit(metric='cosine') normalizes, so
    the trained cells are the same geometry this function probes.
    Same probe plan as ivf_topk: Arrow assignment scan for the
    corpus, broadcast centroid join for the queries, bucket-keyed
    candidate join.

    No SQL oracle (the trained quantizer is iterative); correctness
    is pytest-gated: determinism (refit == refit), recall within a
    0.05 band of the untrained ivf_topk on the same
    (queries, k, nprobe), and max-cell-size <= the untrained
    quantizer's.
    """
    from pyspark.sql import Window

    cent_vecs = kmeans_fit(corpus, n_centroids, train_iters,
                           id_col, vec_col)
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cent_vecs)],
        StructType([
            StructField("cent_id", LongType()),
            StructField("cent_vec", ArrayType(DoubleType())),
        ]),
    ).select("cent_id", "cent_vec", norm_expr("cent_vec").alias("cent_norm"))

    import numpy as np

    c_mat = np.array(cent_vecs)
    c_mat = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)

    def assign_arrow(side: DataFrame, prefix: str) -> DataFrame:
        id_type = side.schema[id_col].dataType
        out_schema = StructType([
            StructField(f"{prefix}_id", id_type),
            StructField(f"{prefix}_vec", side.schema[vec_col].dataType),
            StructField(f"{prefix}_norm", DoubleType()),
            StructField("cent_id", LongType()),
        ])

        def _scan(batches):
            import pyarrow as pa

            for batch in batches:
                if batch.num_rows == 0:
                    continue
                x = _batch_mat(batch.column(1))
                norms = np.linalg.norm(x, axis=1)
                best = np.argmax((x / norms[:, None]) @ c_mat.T, axis=1)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(0), batch.column(1),
                     pa.array(norms, type=pa.float64()),
                     pa.array(best.astype("int64"), type=pa.int64())],
                    [f"{prefix}_id", f"{prefix}_vec",
                     f"{prefix}_norm", "cent_id"])

        return side.select(F.col(id_col), F.col(vec_col)).mapInArrow(
            _scan, out_schema)

    def nearest(side: DataFrame, prefix: str, topn: int) -> DataFrame:
        s = _normed(side, id_col, vec_col, prefix)
        cos = (dot_expr(f"{prefix}_vec", "cent_vec")
               / (F.col(f"{prefix}_norm") * F.col("cent_norm")))
        scored = s.join(F.broadcast(cents)).select(
            F.col(f"{prefix}_id"), F.col(f"{prefix}_vec"),
            F.col(f"{prefix}_norm"), F.col("cent_id"), cos.alias("_ccos"),
        )
        w = Window.partitionBy(f"{prefix}_id").orderBy(
            F.col("_ccos").desc(), F.col("cent_id").asc())
        return (scored.withColumn("_crnk", F.row_number().over(w))
                .where(F.col("_crnk") <= topn)
                .drop("_ccos", "_crnk"))

    corpus_assigned = assign_arrow(corpus, "c")
    query_probes = nearest(queries, "q", nprobe)
    cos = (dot_expr("q_vec", "c_vec")
           / (F.col("q_norm") * F.col("c_norm")))
    cand = (
        corpus_assigned.join(query_probes, "cent_id")
        .where(F.col("q_id") != F.col("c_id"))
        .select(F.col("q_id").alias("query_id"),
                F.col("c_id").alias("neighbor_id"),
                cos.alias("_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id",
                F.round("_cos", 4).alias("cosine"),
                F.col("rnk").cast("long").alias("rnk"))
    )


def pca_fit(vecs: DataFrame, n_components: int = 8,
            id_col: str = "vec_id",
            vec_col: str = "embedding") -> dict:
    """Distributed PCA fit over the embedding corpus: per-dim mean +
    top-``n_components`` principal axes — the dimensionality-reduction
    step an embedding pipeline runs before ANN/clustering to cut
    storage and distance cost (64 -> 8 dims here).

    Determinism contract (same rationale as kmeans_fit): BOTH passes
    reduce in FIXED-POINT int64, so results are bit-identical under
    any partitioning — pass 1 sums 1e-6-scaled components for the
    mean; pass 2 sums 1e-8-scaled per-row centered outer products
    (integer addition is associative; float partial sums per
    partition would not be layout-stable). The (d x d) integer Gram
    matrix — d^2 numbers regardless of corpus size — is eigensolved
    on the driver (numpy.linalg.eigh, deterministic), eigenvectors
    sign-fixed so each axis's largest-|component| entry is positive.

    Scale shape (100 TB): pass 1 is one posexplode + (dim)-keyed agg;
    pass 2 is ONE mapInPandas scan emitting 32 partial d x d integer
    frames reduced by a (i, j)-keyed sum — shuffle volume is
    partitions x d^2 rows, independent of corpus size.

    Returns {"mean": [d], "components": [n_components x d],
    "explained": [n_components]} (plain python lists).
    """
    import numpy as np

    d = len(vecs.select(vec_col).first()[0])
    mean_rows = (
        vecs.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.sum(F.round(F.col("x").cast("double") * 1_000_000, 0)
                   .cast("long")).alias("s"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_rows = mean_rows[0].n
    mu = np.zeros(d)
    for r in mean_rows:
        mu[r.dim] = r.s / 1_000_000.0 / r.n

    out_schema = StructType([
        StructField("i", IntegerType()),
        StructField("j", IntegerType()),
        StructField("s", LongType()),
    ])
    mu_local = mu.copy()

    def _partial_gram(batches):
        import pyarrow as pa

        acc = np.zeros((d, d), dtype="int64")
        for batch in batches:
            if batch.num_rows == 0:
                continue
            x = _batch_mat(batch.column(0))
            xc = x - mu_local
            # per-row fixed-point outer products, summed as exact ints
            # — vectorized in row strips (the r14 §4.2 pass): rint per
            # ROW then int64 sum is associative, so strip order and
            # size cannot change the total; 512 x d x d float64
            # temporaries bound the strip at ~16 MB for d=64
            for s0 in range(0, xc.shape[0], 512):
                blk = xc[s0:s0 + 512]
                acc += np.rint(blk[:, :, None] * blk[:, None, :] * 1e8
                               ).astype("int64").sum(axis=0)
        ii, jj = np.meshgrid(range(d), range(d), indexing="ij")
        yield pa.RecordBatch.from_arrays(
            [pa.array(ii.ravel().astype("int32")),
             pa.array(jj.ravel().astype("int32")),
             pa.array(acc.ravel(), type=pa.int64())],
            ["i", "j", "s"])

    gram_rows = (
        vecs.select(F.col(vec_col)).mapInArrow(_partial_gram, out_schema)
        .groupBy("i", "j").agg(F.sum("s").alias("s"))
        .collect()
    )
    g = np.zeros((d, d))
    for r in gram_rows:
        g[r.i, r.j] = r.s / 1e8
    g /= max(n_rows - 1, 1)
    vals, vecs_ = np.linalg.eigh(g)
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs_[:, order].T
    # sign convention: largest-|entry| of each axis is positive
    for c in comps:
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1.0
    return {
        "mean": [float(x) for x in mu],
        "components": [[float(x) for x in c] for c in comps],
        "explained": [float(vals[o]) for o in order],
    }


def pca_transform(vecs: DataFrame, model: dict,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Project embeddings onto a pca_fit model: (id, pca) with
    pca = W (x - mu), rounded to 6 decimals. Arrow/BLAS scan — one
    pass, no shuffle, same batch shape as the ANN scans."""
    import numpy as np

    mu = np.array(model["mean"])
    w = np.array(model["components"])
    id_type = vecs.schema[id_col].dataType
    out_schema = StructType([
        StructField(id_col, id_type),
        StructField("pca", ArrayType(DoubleType())),
    ])

    def _proj(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            x = _batch_mat(batch.column(1))
            p = np.round((x - mu) @ w.T, 6)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), _list_col(p, pa.float64())],
                [id_col, "pca"])

    return vecs.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _proj, out_schema)


# ------------------------------------------------- product quantization

def pq_fit(vecs: DataFrame, m: int = 8, codes: int = 16,
           iters: int = 3, vec_col: str = "embedding",
           normalize: bool = True, dim: int | None = None) -> dict:
    """Product-quantization codebooks (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector space is
    split into ``m`` contiguous subspaces and each subspace gets its
    own ``codes``-centroid k-means codebook, so a d-dim float vector
    compresses to m small codes (here m bytes at codes<=256) while
    distances remain computable from per-subspace lookup tables — the
    memory side of the IVFADC scale recipe (ivf_topk_trained is the
    routing side).

    Vectors are unit-normalized first (cosine-family geometry, like
    every ANN operator here) unless ``normalize=False`` — the
    RESIDUAL-training mode ivfpq uses, where the input column is
    already a residual vs a coarse centroid and renormalizing would
    destroy the geometry; training is per-subspace Lloyd's with
    the same determinism contract as kmeans_fit: content-hash init
    (no RNG), first-max argmin ties, FIXED-POINT (1e-6) integer sums
    on the uniform (subspace, centroid, dim) key — refits on
    repartitioned data are bit-identical. Empty cells keep their
    previous centroid.

    Scale shape (100 TB): per iteration ONE corpus scan assigns all m
    subspaces at once (mapInPandas against m broadcast codebooks) +
    ONE shuffle keyed by (subspace, centroid, dim) with map-side
    partial sums; the driver ever holds only m x codes x (d/m)
    numbers. At real scale the fit runs on a sample and the codebook
    is a stored artifact, like the BM25 index.

    Returns {"m", "sub", "codebooks"} with codebooks[j] a
    codes x (d/m) nested list.
    """
    import numpy as np

    # ``dim`` lets a caller that already knows the width (ivfpq_fit:
    # the residual frame is centroid-wide by construction) skip the
    # one-row probe job
    d = int(dim) if dim is not None else vecs.select(F.size(vec_col)).first()[0]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    # r14 (§4.2): every pass — init included — reads the RAW column;
    # normalization (when asked) happens inside the Arrow kernels via
    # _unit_rows, bit-identical to the former interpreted JVM
    # where(norm>0)+transform(x/nrm) projection
    raw_scan = vecs.select(F.col(vec_col))

    # all m subspace inits in ONE corpus scan — r14 (§4.2): the former
    # JVM form exploded every vector into m sub-vector rows and built
    # the content-hash keys with an interpreted per-element transform
    # (m x corpus rows through the md5/window machinery, ~1.2 s at
    # sf0.1 for the ivfpq config). The identical selection now runs
    # inside an Arrow kernel: slice the (n, d) matrix per subspace,
    # fixed-point with the same HALF_UP rule, md5 the same
    # ","-joined key, keep each batch's `codes` smallest (_h, _key)
    # per subspace — a superset of the global per-subspace top-codes,
    # finished by the same rank window over the tiny candidate set
    # (pure-ASCII keys: Python sort == UTF8String.compare).
    from pyspark.sql import Window

    init_schema = StructType([
        StructField("_sub", IntegerType()),
        StructField("_h", LongType()),
        StructField("_key", StringType()),
        StructField("v", ArrayType(DoubleType())),
    ])

    def _init_cands(batches):
        import hashlib

        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            x = _batch_mat(batch.column(0))
            if normalize:
                x = _unit_rows(x)
                if x.shape[0] == 0:
                    continue
            subs_a, hs_a, keys_a, rows_a = [], [], [], []
            for j in range(m):
                xj = x[:, j * sub:(j + 1) * sub]
                fx = np.copysign(
                    np.floor(np.abs(xj) * 1_000_000 + 0.5), xj
                ).astype("int64")
                cands = []
                for i in range(fx.shape[0]):
                    key = ",".join(str(v) for v in fx[i])
                    cands.append(
                        (int(hashlib.md5(key.encode())
                             .hexdigest()[:15], 16), key, i))
                cands.sort(key=lambda t: (t[0], t[1]))
                cands = cands[:codes]
                subs_a.append(np.full(len(cands), j, dtype="int32"))
                hs_a.append(np.array([t[0] for t in cands], dtype="int64"))
                keys_a.extend(t[1] for t in cands)
                rows_a.append(xj[[t[2] for t in cands]])
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(subs_a)),
                 pa.array(np.concatenate(hs_a), type=pa.int64()),
                 pa.array(keys_a, type=pa.string()),
                 _list_col(np.concatenate(rows_a), pa.float64())],
                ["_sub", "_h", "_key", "v"])

    rnk_w = Window.partitionBy("_sub").orderBy("_h", "_key")
    init_rows = (
        raw_scan.mapInArrow(_init_cands, init_schema)
        .withColumn("_r", F.row_number().over(rnk_w))
        .where(F.col("_r") <= codes)
        .select("_sub", "_r", "v")
        .collect()
    )
    books = []
    for j in range(m):
        rows = sorted((r for r in init_rows if r._sub == j),
                      key=lambda r: r._r)
        books.append(np.array([np.asarray(r.v, dtype=np.float64)
                               for r in rows]))

    assign_schema = StructType([
        StructField("sub", IntegerType()),
        StructField("cent", IntegerType()),
        StructField("dim", IntegerType()),
        StructField("s", LongType()),
        StructField("n", LongType()),
    ])

    for _ in range(max(0, iters)):
        bks = [b.copy() for b in books]

        def _assign_partials(batches):
            import pyarrow as pa

            # per-partition pre-aggregation: emit (sub, cent, dim)
            # fixed-point partial sums instead of per-row rows, so the
            # shuffle moves m*codes*sub rows per task, not the corpus
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                x = _batch_mat(batch.column(0))
                if normalize:
                    x = _unit_rows(x)
                    if x.shape[0] == 0:
                        continue
                subs, cents, dims, ss, ns = [], [], [], [], []
                for jj in range(m):
                    xj = x[:, jj * sub:(jj + 1) * sub]
                    c = bks[jj]
                    d2 = xj @ c.T - 0.5 * (c * c).sum(axis=1)
                    cent = d2.argmax(axis=1)
                    fx = np.round(xj * 1_000_000).astype("int64")
                    uniq, sums, nn = _segment_sums(cent, fx)
                    subs.append(np.full(uniq.size * sub, jj, dtype="int32"))
                    cents.append(np.repeat(uniq, sub).astype("int32"))
                    dims.append(np.tile(np.arange(sub, dtype="int32"),
                                        uniq.size))
                    ss.append(sums.ravel())
                    ns.append(np.repeat(nn, sub).astype("int64"))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(subs)),
                     pa.array(np.concatenate(cents)),
                     pa.array(np.concatenate(dims)),
                     pa.array(np.concatenate(ss), type=pa.int64()),
                     pa.array(np.concatenate(ns))],
                    ["sub", "cent", "dim", "s", "n"])

        # toArrow + vectorized scatter, as in kmeans_fit
        per_dim = (
            raw_scan.mapInArrow(_assign_partials, assign_schema)
            .groupBy("sub", "cent", "dim")
            .agg(F.sum("s").alias("s"),
                 F.sum("n").cast("long").alias("n"))
            .toArrow()
        )
        j_a = per_dim["sub"].to_numpy()
        c_a = per_dim["cent"].to_numpy()
        d_a = per_dim["dim"].to_numpy()
        s_a = per_dim["s"].to_numpy()
        n_a = per_dim["n"].to_numpy()
        new = [b.copy() for b in books]
        for jj in range(m):
            msk = j_a == jj
            new[jj][c_a[msk], d_a[msk]] = (
                s_a[msk] / 1_000_000.0 / n_a[msk])
        books = new
    return {
        "m": m, "sub": sub,
        "codebooks": [[[float(x) for x in row] for row in b]
                      for b in books],
    }


def pq_encode(vecs: DataFrame, model: dict, id_col: str = "vec_id",
              vec_col: str = "embedding",
              normalize: bool = True) -> DataFrame:
    """(id, codes array<int>): each unit-normalized vector's nearest
    codebook entry per subspace — the m-byte compressed corpus
    representation that pq_topk scans. One shuffle-free Arrow pass.
    ``normalize=False`` encodes the column as-is (residual mode)."""
    import numpy as np

    m, sub = model["m"], model["sub"]
    books = [np.asarray(b, dtype=np.float64) for b in model["codebooks"]]
    out_schema = StructType([
        StructField(id_col, LongType()),
        StructField("codes", ArrayType(IntegerType())),
    ])

    def _enc(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy().astype("int64")
            x = _batch_mat(batch.column(1))
            if normalize:
                nrm = np.linalg.norm(x, axis=1, keepdims=True)
                nrm[nrm == 0] = 1.0
                x = x / nrm
            cs = np.empty((x.shape[0], m), dtype="int32")
            for j in range(m):
                xj = x[:, j * sub:(j + 1) * sub]
                c = books[j]
                d2 = xj @ c.T - 0.5 * (c * c).sum(axis=1)
                cs[:, j] = d2.argmax(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), _list_col(cs, pa.int32())],
                [id_col, "codes"])

    return vecs.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _enc, out_schema)


def pq_topk(queries: DataFrame, corpus: DataFrame, k: int,
            model: dict | None = None, m: int = 8, codes: int = 16,
            train_iters: int = 2, id_col: str = "vec_id",
            vec_col: str = "embedding",
            encoded: DataFrame | None = None) -> DataFrame:
    """Approximate top-k by ASYMMETRIC DISTANCE COMPUTATION over the
    PQ-encoded corpus: per query, an m x codes table of exact
    subspace distances to every codebook entry is precomputed, and
    each encoded vector's approximate distance is m table lookups —
    no float vector is ever touched at scan time. This is the
    memory-bound regime of billion-scale ANN: the scan reads m bytes
    per vector instead of 4d.

    Same contracts as brute_force_topk_arrow: queries are broadcast
    state (guarded at 4096), one corpus scan with per-batch local
    top-k, final rank shuffles #partitions x k rows per query. Self
    excluded; ties broken by neighbor_id. Output: (query_id,
    neighbor_id, approx_d2, rnk) with approx_d2 the PQ estimate of
    squared euclidean distance on the unit sphere (= 2 - 2 cos).
    """
    import numpy as np

    if model is None:
        model = pq_fit(corpus, m=m, codes=codes, iters=train_iters,
                       vec_col=vec_col)
    m, sub = model["m"], model["sub"]
    books = [np.asarray(b, dtype=np.float64) for b in model["codebooks"]]

    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not q_rows:
        raise ValueError("empty query set")
    if len(q_rows) > 4096:
        raise ValueError(
            f"{len(q_rows)} query vectors; pq_topk broadcasts the "
            "per-query distance tables — block the queries for more")
    n_codes = max(len(b) for b in books)
    table_bytes = len(q_rows) * m * n_codes * 8
    if table_bytes > 512 * 1024 * 1024:
        raise ValueError(
            f"per-query ADC tables would be {table_bytes >> 20} MiB "
            f"({len(q_rows)} queries x m {m} x codes {n_codes}); "
            "block the queries into smaller batches")
    q_ids = np.asarray([int(r[0]) for r in q_rows], dtype="int64")
    q_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_nrm = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_nrm[q_nrm == 0] = 1.0  # zero query -> origin, not NaN distances
    q_mat = q_mat / q_nrm
    # tables[q, j, c] = ||q_j - books[j][c]||^2  (exact on the query side)
    tables = np.stack([
        ((q_mat[:, j * sub:(j + 1) * sub, None]
          - books[j].T[None, :, :]) ** 2).sum(axis=1)
        for j in range(m)
    ], axis=1)
    k_ = int(k)

    # `encoded` is the stored-artifact seam: pass the materialized
    # (id, codes) table (pq_store_index) and the corpus float vectors
    # are never read at query time — the production serving shape
    enc = (encoded if encoded is not None
           else pq_encode(corpus, model, id_col, vec_col))
    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("_d2", DoubleType()),
    ])

    def _scan(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy().astype("int64")
            codes_idx = batch.schema.get_field_index("codes")
            cs = _batch_mat(batch.column(codes_idx), dtype="int64")
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            cs = cs[order]
            # ADC: d2[q, v] = sum_j tables[q, j, cs[v, j]]
            d2 = np.zeros((q_ids.size, ids.size))
            for j in range(m):
                d2 += tables[:, j, :][:, cs[:, j]]
            d2 = np.where(q_ids[:, None] == ids[None, :], np.inf, d2)
            take = min(k_, d2.shape[1])
            idx = np.argsort(d2, axis=1, kind="stable")[:, :take]
            dd = np.take_along_axis(d2, idx, axis=1).ravel()
            keep = dd != np.inf
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(q_ids, take)[keep], type=pa.int64()),
                 pa.array(ids[idx.ravel()][keep], type=pa.int64()),
                 pa.array(dd[keep], type=pa.float64())],
                ["query_id", "neighbor_id", "_d2"])

    scored = enc.mapInArrow(_scan, out_schema)
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k_)
        .select("query_id", "neighbor_id",
                F.round("_d2", 4).alias("approx_d2"),
                F.col("rnk").cast("long").alias("rnk"))
    )


def ivfpq_fit(corpus: DataFrame, n_centroids: int = 32, m: int = 8,
              codes: int = 16, coarse_iters: int = 2,
              pq_iters: int = 2, id_col: str = "vec_id",
              vec_col: str = "embedding") -> dict:
    """Train the two coupled quantizers of IVFADC (Jegou et al. 2011
    §IV): a spherical coarse quantizer (kmeans_fit, cosine geometry)
    routes vectors to inverted lists, and the PQ codebooks are
    trained on the RESIDUALS x_unit - c(x_unit) — the coupling that
    distinguishes true IVFADC from quantizing raw vectors: residuals
    concentrate near the origin of each cell, so the same code budget
    spends its precision on the within-cell displacement, which is
    exactly what ADC ranks by.

    Deterministic end to end (content-hash inits, fixed-point sums in
    both fits), so a refit on repartitioned data is bit-identical —
    the property the stored-index probe ≡ inline-fit test relies on.

    Scale shape (100 TB): the coarse fit is kmeans_fit's
    scan-per-iteration; the residual frame is ONE additional Arrow
    scan localCheckpoint'ed so the pq_iters Lloyd passes re-read a
    materialized (cell, residual) table instead of recomputing the
    routing each pass (in production it IS a stored table);
    everything the driver holds is K centroids + m x codes x d/m
    codebook floats.

    Returns {"centroids": K x d unit rows, "m", "sub", "codebooks"}.
    """
    import numpy as np

    cents = np.array(kmeans_fit(corpus, n_centroids, iters=coarse_iters,
                                id_col=id_col, vec_col=vec_col,
                                metric="cosine"))
    c_norms = np.linalg.norm(cents, axis=1, keepdims=True)
    c_norms[c_norms == 0] = 1.0
    c_unit = cents / c_norms
    resid = _residual_frame(corpus, c_unit, id_col, vec_col)
    # lazy: pq_fit's init job is the action that materializes the
    # routed-residual checkpoint (one driver round-trip saved; the
    # lineage cut — the reason this checkpoint exists — is identical)
    resid = resid.localCheckpoint(eager=False)
    model = pq_fit(resid, m=m, codes=codes, iters=pq_iters,
                   vec_col="resid", normalize=False,
                   dim=int(c_unit.shape[1]))
    model["centroids"] = [[float(x) for x in row] for row in c_unit]
    return model


def _residual_frame(corpus: DataFrame, c_unit, id_col: str,
                    vec_col: str) -> DataFrame:
    """(id, cell, resid): each corpus vector unit-normalized, routed
    to its nearest coarse centroid (argmax cosine, ties -> lowest
    cell), and the residual vs that centroid. One Arrow scan."""
    import numpy as np

    out_schema = StructType([
        StructField(id_col, LongType()),
        StructField("cell", IntegerType()),
        StructField("resid", ArrayType(DoubleType())),
    ])

    def _route(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy().astype("int64")
            x = _batch_mat(batch.column(1))
            nrm = np.linalg.norm(x, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            x = x / nrm
            cell = (x @ c_unit.T).argmax(axis=1)
            r = x - c_unit[cell]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()),
                 pa.array(cell.astype("int32")),
                 _list_col(r, pa.float64())],
                [id_col, "cell", "resid"])

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _route, out_schema)


def ivfpq_encode(corpus: DataFrame, model: dict,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(id, cell, codes): route every vector through the coarse
    quantizer and PQ-encode its RESIDUAL — the inverted-file rows an
    IVFADC scan reads. ONE fused Arrow pass, shuffle-free: routing
    and encoding happen in the same kernel, so the corpus is scanned
    once and no (id -> cell) join ever exists."""
    import numpy as np

    c_unit = np.asarray(model["centroids"], dtype=np.float64)
    m, sub = model["m"], model["sub"]
    books = [np.asarray(b, dtype=np.float64) for b in model["codebooks"]]
    out_schema = StructType([
        StructField(id_col, LongType()),
        StructField("cell", IntegerType()),
        StructField("codes", ArrayType(IntegerType())),
    ])

    def _route_encode(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy().astype("int64")
            x = _batch_mat(batch.column(1))
            nrm = np.linalg.norm(x, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            x = x / nrm
            cell = (x @ c_unit.T).argmax(axis=1)
            r = x - c_unit[cell]
            cs = np.empty((x.shape[0], m), dtype="int32")
            for j in range(m):
                rj = r[:, j * sub:(j + 1) * sub]
                b = books[j]
                cs[:, j] = (rj @ b.T - 0.5 * (b * b).sum(axis=1)
                            ).argmax(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()),
                 pa.array(cell.astype("int32")),
                 _list_col(cs, pa.int32())],
                [id_col, "cell", "codes"])

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _route_encode, out_schema)


def ivfpq_topk(queries: DataFrame, corpus: DataFrame | None, k: int,
               n_centroids: int = 32, nprobe: int = 8,
               m: int = 8, codes: int = 16,
               coarse_iters: int = 2, pq_iters: int = 2,
               id_col: str = "vec_id",
               vec_col: str = "embedding",
               model: dict | None = None,
               encoded: DataFrame | None = None) -> DataFrame:
    """IVFADC top-k (Jegou et al. 2011; the FAISS IVFPQ serving
    path): the trained coarse quantizer routes each query to its
    ``nprobe`` nearest cells, and candidates in those cells are
    ranked by ASYMMETRIC DISTANCE COMPUTATION on their
    RESIDUAL-encoded PQ codes — d2(q, x) ~ ||(q - c_cell) -
    pq(resid_x)||^2, with a per-(query, cell) lookup table of exact
    subspace distances, so the coupling of the two quantizers
    (residual encoding, VERDICT r5 #2) is preserved at query time.

    ``model``/``encoded`` are the stored-artifact seams (the pq_topk
    pattern): pass ivfpq_read_index's output and neither quantizer is
    retrained nor any float corpus vector read — the scan touches
    only the (cell, codes) rows of PROBED cells, which a cell-
    partitioned stored table turns into partition pruning.

    Scale shape: queries broadcast (guarded <= 4096) as per-(q, cell)
    ADC tables — nprobe * m * codes doubles per query; one scan of
    the probed fraction (~nprobe/n_centroids) of the encoded corpus
    with per-batch local top-k; final rank shuffles #partitions x k
    rows per query. Output (query_id, neighbor_id, approx_d2, rnk),
    ties by neighbor_id; ranked among probed candidates.
    """
    import numpy as np

    if model is None:
        if corpus is None:
            raise ValueError("ivfpq_topk needs a corpus or a model")
        model = ivfpq_fit(corpus, n_centroids=n_centroids, m=m,
                          codes=codes, coarse_iters=coarse_iters,
                          pq_iters=pq_iters, id_col=id_col,
                          vec_col=vec_col)
    c_unit = np.asarray(model["centroids"], dtype=np.float64)
    m_, sub = model["m"], model["sub"]
    books = [np.asarray(b, dtype=np.float64) for b in model["codebooks"]]

    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not q_rows:
        raise ValueError("empty query set")
    if len(q_rows) > 4096:
        raise ValueError("query set above the broadcast guard; "
                         "block the queries")
    # the ADC tables here are PER-(query, cell): nprobe x m x codes
    # doubles per query, an nprobe-times larger broadcast than
    # pq_topk's per-query table — guard on actual bytes, not just
    # query count, so generous hyperparameters can't silently ship a
    # multi-GB closure to every task
    n_codes = max(len(b) for b in books)
    table_bytes = len(q_rows) * nprobe * m_ * n_codes * 8
    if table_bytes > 512 * 1024 * 1024:
        raise ValueError(
            f"per-(query, cell) ADC tables would be "
            f"{table_bytes >> 20} MiB ({len(q_rows)} queries x "
            f"nprobe {nprobe} x m {m_} x codes {n_codes}); "
            "block the queries into smaller batches")
    q_ids = np.asarray([int(r[0]) for r in q_rows], dtype="int64")
    q_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_nrm = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_nrm[q_nrm == 0] = 1.0  # zero query -> origin, not NaN distances
    q_mat = q_mat / q_nrm
    # nprobe nearest cells per query (cosine == dot on unit sphere)
    aff = q_mat @ c_unit.T
    probe_cells = np.argsort(-aff, axis=1, kind="stable")[:, :nprobe]
    # per-(query, cell) ADC tables on the RESIDUAL q - c_cell:
    # tables[(cell)][qi_local, j, code] = ||(q - c)_j - books[j][code]||^2
    cell_queries: dict[int, "np.ndarray"] = {}
    cell_tables: dict[int, "np.ndarray"] = {}
    cells_by_q: dict[int, list[int]] = {}
    for qi, cells in enumerate(probe_cells):
        for c in cells:
            cells_by_q.setdefault(int(c), []).append(qi)
    for c, qidx in cells_by_q.items():
        qs = np.asarray(qidx)
        rq = q_mat[qs] - c_unit[c]
        cell_queries[c] = qs
        cell_tables[c] = np.stack([
            ((rq[:, j * sub:(j + 1) * sub, None]
              - books[j].T[None, :, :]) ** 2).sum(axis=1)
            for j in range(m_)
        ], axis=1)
    k_ = int(k)

    if encoded is None:
        if corpus is None:
            raise ValueError("ivfpq_topk needs a corpus or an "
                             "encoded table")
        encoded = ivfpq_encode(corpus, model, id_col, vec_col)
    # probed-cell pruning: on a cell-partitioned stored table this is
    # PartitionFilters (whole unprobed cells never read); inline it is
    # still a pushed scan predicate. Project to exactly the three
    # scanned columns so meta/batch partition columns a stored table
    # carries never ride the Arrow transfer (and the kernel's
    # positional id access stays valid for any table layout).
    enc = encoded.where(F.col("cell").isin(
        [int(c) for c in sorted(cell_queries)])) \
        .select(F.col(id_col), F.col("cell"), F.col("codes"))

    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("_d2", DoubleType()),
    ])

    def _scan(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy().astype("int64")
            cell = batch.column(
                batch.schema.get_field_index("cell")
            ).to_numpy().astype("int64")
            cs = _batch_mat(
                batch.column(batch.schema.get_field_index("codes")),
                dtype="int64")
            order = np.argsort(ids, kind="stable")
            ids, cell, cs = ids[order], cell[order], cs[order]
            qcols, ncols, dcols = [], [], []
            for c in np.unique(cell):
                tab = cell_tables.get(int(c))
                if tab is None:
                    continue
                sel = cell == c
                sel_ids = ids[sel]
                sel_cs = cs[sel]
                qs = cell_queries[int(c)]
                d2 = np.zeros((qs.size, sel_ids.size))
                for j in range(m_):
                    d2 += tab[:, j, :][:, sel_cs[:, j]]
                d2 = np.where(q_ids[qs][:, None] == sel_ids[None, :],
                              np.inf, d2)
                take = min(k_, d2.shape[1])
                idx = np.argsort(d2, axis=1, kind="stable")[:, :take]
                dd = np.take_along_axis(d2, idx, axis=1).ravel()
                keep = dd != np.inf
                qcols.append(np.repeat(q_ids[qs], take)[keep])
                ncols.append(sel_ids[idx.ravel()][keep])
                dcols.append(dd[keep])
            if qcols:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(qcols), type=pa.int64()),
                     pa.array(np.concatenate(ncols), type=pa.int64()),
                     pa.array(np.concatenate(dcols), type=pa.float64())],
                    ["query_id", "neighbor_id", "_d2"])

    scored = enc.mapInArrow(_scan, out_schema)
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k_)
        .select("query_id", "neighbor_id",
                F.round("_d2", 4).alias("approx_d2"),
                F.col("rnk").cast("long").alias("rnk"))
    )


def ivfpq_store_index(corpus: DataFrame, prefix: str,
                      n_centroids: int = 32, m: int = 8,
                      codes: int = 16, coarse_iters: int = 2,
                      pq_iters: int = 2, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      truth_queries: DataFrame | None = None,
                      truth_k: int = 5,
                      meta_cols: list[str] | None = None,
                      rebuild_includes_appends: bool = False) -> list[str]:
    """Materialize the IVFADC serving artifacts (VERDICT r5 #1) as
    catalog tables:
      {prefix}_centroids  (cell, dim, val)     coarse quantizer
      {prefix}_codebook   (sub, cent, dim, val) residual PQ codebooks
      {prefix}_codes      (id, codes[, meta...]) PARTITIONED BY
                          (cell, _batch) — the inverted file; a probe
                          filtering on its nprobe cells reads ONLY
                          those first-level partitions; the _batch
                          level is the exactly-once append/compact
                          seam (ivfpq_append_to_index)
      {prefix}_truth      optional: brute-force top-``truth_k`` for a
                          canonical query set, computed once at build
                          time so a serving-path caller can certify
                          recall WITHOUT ever re-scanning the float
                          corpus at query time
    Fit once per corpus version; every query batch is then route+ADC
    probe-only (ivfpq_topk_from_index). Doubles round-trip parquet
    losslessly, so the rebuilt model scores bit-identically.

    ``meta_cols``: corpus columns to carry INTO the codes table, so a
    FILTERED search (ivfpq_topk_filtered_from_index) evaluates its
    metadata predicate as a pushed parquet filter on the inverted-
    file scan — no join against a metadata table at query time.
    Committed through the shared build bracket (sources/readers.py).
    """
    from ..sources.readers import build_index, overwrite_table

    model = ivfpq_fit(corpus, n_centroids=n_centroids, m=m,
                      codes=codes, coarse_iters=coarse_iters,
                      pq_iters=pq_iters, id_col=id_col,
                      vec_col=vec_col)
    spark = corpus.sparkSession

    def write() -> list[str]:
        cent_rows = [
            (c, d, model["centroids"][c][d])
            for c in range(len(model["centroids"]))
            for d in range(len(model["centroids"][c]))
        ]
        overwrite_table(spark.createDataFrame(
            cent_rows, "cell INT, dim INT, val DOUBLE"), f"{prefix}_centroids")
        overwrite_table(_codebook_frame(spark, model), f"{prefix}_codebook")
        enc = ivfpq_encode(corpus, model, id_col, vec_col)
        if meta_cols:
            meta = corpus.select(F.col(id_col).alias("_mid"),
                                 *[F.col(c) for c in meta_cols])
            enc = enc.join(meta, enc[id_col] == meta["_mid"]).drop("_mid")
        # second-level partition key for exactly-once ingestion: the
        # build lands under _batch="base"; each later append lands
        # under its own batch id, so a re-delivered append can
        # dynamic-overwrite ONLY its own (cell, batch) partitions.
        # Probes filter on cell alone — first-level pruning is
        # unaffected.
        overwrite_table(enc.withColumn("_batch", F.lit("base")),
                        f"{prefix}_codes", ("cell", "_batch"))
        names = [f"{prefix}_centroids", f"{prefix}_codebook",
                 f"{prefix}_codes"]
        if truth_queries is not None:
            truth = brute_force_topk_arrow(truth_queries, corpus, truth_k,
                                           id_col=id_col, vec_col=vec_col)
            overwrite_table(truth, f"{prefix}_truth")
            names.append(f"{prefix}_truth")
        return names

    # the bracket opens AFTER the driver-side fit: the fit writes
    # nothing, so opening first would only leave a good index
    # not-ready (readers rebuilding, appends refused) for the whole
    # k-means duration
    return build_index(spark, prefix, write,
                       includes_appends=rebuild_includes_appends)


def _codebook_frame(spark, model: dict) -> DataFrame:
    """(sub, cent, dim, val) rows of a PQ model's codebooks."""
    rows = [
        (j, c, d, model["codebooks"][j][c][d])
        for j in range(model["m"])
        for c in range(len(model["codebooks"][j]))
        for d in range(model["sub"])
    ]
    return spark.createDataFrame(rows,
                                 "sub INT, cent INT, dim INT, val DOUBLE")


def ivfpq_read_index(spark, prefix: str) -> tuple[dict, DataFrame]:
    """Rebuild (model, encoded inverted file) from ivfpq_store_index
    tables. The codes frame keeps its cell partitioning, so
    ivfpq_topk's probed-cell filter prunes whole partitions."""
    c_rows = spark.table(f"{prefix}_centroids").collect()
    n_cells = max(r.cell for r in c_rows) + 1
    d = max(r.dim for r in c_rows) + 1
    cents = [[0.0] * d for _ in range(n_cells)]
    for r in c_rows:
        cents[r.cell][r.dim] = r.val
    model, codes = pq_read_index(spark, prefix)
    return {**model, "centroids": cents}, codes


def ivfpq_topk_from_index(spark, prefix: str, queries: DataFrame,
                          k: int, nprobe: int = 8,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Probe-only IVFADC against a stored index — the per-query-batch
    work at 100 TB: route the (tiny) query batch, read ONLY the
    probed cell partitions of the codes table, ADC-rank. Identical
    output to an inline ivfpq_topk with the same hyperparameters on
    the same corpus (determinism of both fits; test-asserted)."""
    model, enc = ivfpq_read_index(spark, prefix)
    return ivfpq_topk(queries, None, k, nprobe=nprobe,
                      id_col=id_col, vec_col=vec_col,
                      model=model, encoded=enc)


def ivfpq_topk_filtered_from_index(spark, prefix: str, queries: DataFrame,
                                   k: int, predicate,
                                   nprobe: int = 8,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding") -> DataFrame:
    """FILTERED vector search over the stored IVFADC index — the
    'where label = X' companion every production vector store needs.
    The metadata predicate (a Column over the meta_cols stored in
    the codes table by ivfpq_store_index) is applied to the
    inverted-file scan itself: Catalyst pushes it into the parquet
    reader alongside the probed-cell partition filter, so unprobed
    cells are never read AND non-matching candidates are dropped at
    the scan — no metadata join, no post-ranking re-filter (which
    would return fewer than k survivors from an unfiltered top-k).

    Semantics: exact ADC ranking among the candidates that match the
    predicate within the probed cells. A query whose probed cells
    hold fewer than k matching candidates returns that many rows
    (ranks stay contiguous 1..n). Identical to running ivfpq_topk
    with the corpus pre-filtered to the predicate (test-asserted) —
    but without ever materializing a filtered corpus.
    """
    model, enc = ivfpq_read_index(spark, prefix)
    filtered = enc.where(predicate).select(
        F.col(id_col), F.col("cell"), F.col("codes"))
    return ivfpq_topk(queries, None, k, nprobe=nprobe,
                      id_col=id_col, vec_col=vec_col,
                      model=model, encoded=filtered)


def ivfpq_append_to_index(spark, prefix: str, new_vecs: DataFrame,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          meta_cols: list[str] | None = None,
                          batch_id: str | None = None,
                          auto_compact_files_per_cell: int | None = None
                          ) -> int:
    """Append a new vector batch to a stored IVFADC index WITHOUT
    refitting — the serving-index ingestion path: encode the batch
    with the STORED model (one fused route+encode Arrow scan over
    the batch only) and land the (id, codes[, meta], cell) rows in
    the cell-partitioned codes table. Existing cells gain files; new
    rows land in their partitions; the probe reads the union with
    the same partition pruning.

    ``batch_id``: a stable id for the batch (e.g. the upstream offset
    range) makes the append exactly-once — a re-delivery is skipped or
    overwrites only its own (cell, batch_id) partitions. Without one
    the write is a plain at-least-once append under ``_batch='adhoc'``.

    ``auto_compact_files_per_cell`` is the COMPACTION CADENCE: after a
    committed append, if any cell of the codes table holds more files
    than this, the append absorbs all batches back into the base
    generation (ivfpq_compact_index) — so a long-running ingest loop
    keeps its file count bounded without an external maintenance
    scheduler. The check is one driver-side catalog listing per
    append (files_per_partition, no data read). OPT-IN (default None
    — a default-on rewrite would silently change every existing
    ingest loop's append latency profile); PERF.md's rule of thumb is
    ~2x the executor count. A compaction failure raises
    MaintenanceFailedError: the append itself HAS committed by then,
    so the caller must NOT re-ingest the batch.

    Remaining caveats, by design:
    - quantization error for drifted data grows until the next refit
      (the model is frozen — monitor recall and refit on schedule;
      semantic_dedup's max_cell guard is the same story);
    - the build-time ``_truth`` table is NOT updated (it certifies
      the build-time corpus); recall certification after appends
      needs a fresh truth pass — the recipe is a brute-force pass
      over the merged corpus fed into the shared recall evaluation
      (queries_pipeline._recall_frame / _recall_certificate;
      test_recall_certificate_after_index_append pins it).

    Exactly-once ledger, idempotent (cell, _batch) overwrite and
    compaction cadence: sources/readers.py partitioned_append.
    """
    from ..sources.readers import partitioned_append

    def stage() -> DataFrame:
        model, _ = ivfpq_read_index(spark, prefix)
        enc = ivfpq_encode(new_vecs, model, id_col, vec_col)
        if meta_cols:
            meta = new_vecs.select(F.col(id_col).alias("_mid"),
                                   *[F.col(c) for c in meta_cols])
            enc = enc.join(meta, enc[id_col] == meta["_mid"]).drop("_mid")
        # the encode is an opaque Arrow map — count() would execute it
        # in full and the write would re-execute it; persist so the
        # dominant route+encode scan runs exactly once per append
        return enc.persist()

    return partitioned_append(spark, prefix, f"{prefix}_codes", batch_id,
                              "ivfpq_append_to_index", stage,
                              auto_compact_files_per_cell)


def pq_store_index(corpus: DataFrame, prefix: str, m: int = 8,
                   codes: int = 16, iters: int = 2, n_buckets: int = 8,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> list[str]:
    """Materialize the PQ serving artifacts as catalog tables: the
    codebooks as (sub, cent, dim, val) rows (m x codes x d/m doubles
    — tiny, exact) and the ENCODED corpus bucketed on the id (m
    small ints per vector — the only thing a query-time scan reads).
    The stored-artifact counterpart to bm25_store_index: fit once per
    corpus version, then every query batch is probe-only. Shared
    build bracket: sources/readers.py."""
    from ..sources.readers import build_index, overwrite_table, write_bucketed

    model = pq_fit(corpus, m=m, codes=codes, iters=iters,
                   vec_col=vec_col)
    spark = corpus.sparkSession

    def write() -> list[str]:
        overwrite_table(_codebook_frame(spark, model), f"{prefix}_codebook")
        write_bucketed(pq_encode(corpus, model, id_col, vec_col),
                       f"{prefix}_codes", id_col, n_buckets)
        return [f"{prefix}_codebook", f"{prefix}_codes"]

    # opened after the driver-side fit, like ivfpq_store_index
    return build_index(spark, prefix, write)


def pq_read_index(spark, prefix: str) -> tuple[dict, DataFrame]:
    """Rebuild (model, encoded corpus) from pq_store_index tables.
    Parquet stores the codebook doubles losslessly, so the rebuilt
    model scores bit-identically to the in-memory fit."""
    rows = spark.table(f"{prefix}_codebook").collect()
    m = max(r.sub for r in rows) + 1
    sub = max(r.dim for r in rows) + 1
    n_codes = max(r.cent for r in rows) + 1
    books = [[[0.0] * sub for _ in range(n_codes)] for _ in range(m)]
    for r in rows:
        books[r.sub][r.cent][r.dim] = r.val
    model = {"m": m, "sub": sub, "codebooks": books}
    return model, spark.table(f"{prefix}_codes")


def semdedup_assign(vecs: DataFrame, centroids: list[list[float]],
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Assign every vector to its argmax-cosine centroid — the
    cluster step of SemDeDup (Abbas et al. 2023, arXiv:2303.09540).

    ONE scan, no join, no window: the k centroids ride into the
    Arrow kernel as task-local constants (r15 — see
    _semdedup_assigned; formerly k interpreted zip_with+aggregate
    folds per row), each cosine is a left-fold-ordered DOUBLE dot
    rounded HALF_UP to 1e-6, and the argmax takes the FIRST max, so
    ties break to the lowest cell index. An oracle recomputing the
    assignment from the same stored centroid table (DuckDB
    list_dot_product, same rounding, row_number tie rule)
    reproduces it bit-for-bit.

    Returns (id, cell, cent_sim) with cent_sim rounded to 6 dp.
    """
    return _semdedup_assigned(vecs, centroids, id_col, vec_col).select(
        F.col(id_col), F.col("cell"), F.col("cent_sim"))


def _semdedup_assigned_sql(vecs: DataFrame, centroids: list[list[float]],
                           id_col: str, vec_col: str) -> DataFrame:
    """The JVM expression form of the assignment projection — kept as
    the equivalence REFERENCE for the Arrow kernel below (pytest
    asserts bit-equality; the kernel replicates this form's exact
    left-fold summation order, see _semdedup_assigned)."""
    import math

    v = vecs.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        norm_expr(vec_col).alias("_n"),
    )
    cs_cols = []
    for c in centroids:
        cn = math.sqrt(sum(float(x) * float(x) for x in c))
        lit_vec = F.array(*[F.lit(float(x)).cast("double") for x in c])
        if cn == 0:
            cs_cols.append(F.lit(0.0))
            continue
        dot = F.aggregate(
            F.zip_with(F.col("_v"), lit_vec, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)
        cs_cols.append(F.round(
            F.when(F.col("_n") == 0, F.lit(0.0))
            .otherwise(dot / (F.col("_n") * F.lit(cn))), 6))
    arr = F.array(*cs_cols)
    return v.select(
        F.col(id_col),
        (F.array_position(arr, F.array_max(arr)) - 1).cast("int")
        .alias("cell"),
        F.array_max(arr).alias("cent_sim"),
        F.col("_v"), F.col("_n"),
    )


def _semdedup_assigned(vecs: DataFrame, centroids: list[list[float]],
                       id_col: str, vec_col: str) -> DataFrame:
    """(id, cell, cent_sim, _v, _n) — the assignment projection with
    the cast vector and norm kept, so semantic_dedup's branches all
    derive from ONE frame instead of re-joining embeddings.

    r15 (guide §4.2): the former JVM form evaluated k zip_with +
    aggregate folds per row — interpreted (CodegenFallback) higher-
    order expressions, measured as the DOMINANT cost of every
    semdedup path at sf0.1 (assignment checkpoint 2.0-3.6 s of a
    3.2-4.9 s inline wall). This kernel computes the identical values
    in numpy with BIT-EXACT arithmetic: dots and squared norms
    accumulate COLUMN-BY-COLUMN (``acc += V[:, j] * c[j]``), which
    reproduces the JVM left fold's exact sequence of IEEE adds
    (((0+p0)+p1)+...) — vectorized across rows, ordered across dims —
    so no reassociation can flip a 6-dp rounding. Rounding is the
    repo's HALF_UP scale-floor form (see _np_round_half_up4);
    np.argmax takes the FIRST max, matching
    array_position(arr, array_max(arr)). Equivalence vs the retained
    JVM reference (_semdedup_assigned_sql) is pytest-asserted,
    including the zero-norm and NULL-vector branches.

    Batch (non-streaming) inputs are pre-partitioned by id — small
    corpora arrive as one parquet split and would serialize the
    kernel; streaming inputs keep their micro-batch partitioning."""
    import math

    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StructField, StructType)

    id_type = vecs.schema[id_col].dataType
    id_arrow = to_arrow_type(id_type)
    cents = [[float(x) for x in c] for c in centroids]
    cns = [math.sqrt(sum(x * x for x in c)) for c in cents]
    out_schema = StructType([
        StructField(id_col, id_type),
        StructField("cell", IntegerType()),
        StructField("cent_sim", DoubleType()),
        StructField("_v", ArrayType(DoubleType())),
        StructField("_n", DoubleType()),
    ])

    def _assign(batches):
        import numpy as np
        import pyarrow as pa

        cmat = [np.asarray(c, dtype=np.float64) for c in cents]
        k = len(cmat)
        list_f64 = pa.list_(pa.float64())
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            vcol = batch.column(1).cast(list_f64)
            n = len(vcol)
            offs = vcol.offsets.to_numpy(zero_copy_only=False)
            widths = np.diff(offs)
            if vcol.null_count or len(set(widths.tolist())) > 1:
                # ragged / NULL vectors: defer to the JVM-shaped
                # per-row path via pylists (never taken on the
                # uniform-dim corpora; correctness fallback only)
                rows = vcol.to_pylist()
                cells, sims_o, norms = [], [], []
                for r in rows:
                    if r is None:
                        cells.append(None)
                        sims_o.append(None)
                        norms.append(None)
                        continue
                    acc = 0.0
                    for x in r:
                        acc += x * x
                    nr = math.sqrt(acc)
                    cs = []
                    for ci in range(k):
                        if cns[ci] == 0:
                            cs.append(0.0)
                            continue
                        d = 0.0
                        for xj, cj in zip(r, cmat[ci]):
                            d += xj * cj
                        s = 0.0 if nr == 0 else d / (nr * cns[ci])
                        cs.append(math.copysign(
                            math.floor(abs(s) * 1e6 + 0.5), s) / 1e6)
                    mx = max(cs)
                    cells.append(cs.index(mx))
                    sims_o.append(mx)
                    norms.append(nr)
                yield pa.RecordBatch.from_arrays(
                    [ids.cast(id_arrow),
                     pa.array(cells, type=pa.int32()),
                     pa.array(sims_o, type=pa.float64()),
                     vcol, pa.array(norms, type=pa.float64())],
                    [id_col, "cell", "cent_sim", "_v", "_n"])
                continue
            d = int(widths[0]) if n else 0
            V = vcol.flatten().to_numpy(zero_copy_only=False) \
                .reshape(n, d)
            # squared norm, column-by-column: the JVM fold's add order
            acc = np.zeros(n, dtype=np.float64)
            for j in range(d):
                acc += V[:, j] * V[:, j]
            nrm = np.sqrt(acc)
            zero = nrm == 0
            sims = np.empty((n, k), dtype=np.float64)
            for ci in range(k):
                if cns[ci] == 0:
                    sims[:, ci] = 0.0
                    continue
                c = cmat[ci]
                accd = np.zeros(n, dtype=np.float64)
                for j in range(d):
                    accd += V[:, j] * c[j]
                s = accd / (nrm * cns[ci])
                s[zero] = 0.0
                sims[:, ci] = np.copysign(
                    np.floor(np.abs(s) * 1e6 + 0.5), s) / 1e6
            cell = np.argmax(sims, axis=1)
            cent = sims[np.arange(n), cell]
            yield pa.RecordBatch.from_arrays(
                [ids.cast(id_arrow),
                 pa.array(cell.astype(np.int32)),
                 pa.array(cent),
                 vcol, pa.array(nrm)],
                [id_col, "cell", "cent_sim", "_v", "_n"])

    src = vecs.select(F.col(id_col), F.col(vec_col))
    if not vecs.isStreaming:
        n_parts = vecs.sparkSession.sparkContext.defaultParallelism
        src = src.repartition(n_parts, F.col(id_col))
    return src.mapInArrow(_assign, out_schema)


def _semdedup_dropped_within(assigned: DataFrame, eps: float,
                             id_col: str) -> DataFrame:
    """Ids dropped by a strictly-higher-priority cell-mate — the ONE
    implementation of SemDeDup's keep-priority rule, shared by the
    inline (semantic_dedup) and incremental (semdedup_probe) paths so
    the priority/rounding contract cannot desynchronize between them.

    Priority inside a cell is (cent_sim ASC, id ASC) — farthest from
    centroid kept first (the paper's representative-selection rule);
    the directed join emits each unordered pair once; pair cosines
    round to 4 dp (the repo's cross-engine cosine contract). Input is
    an _semdedup_assigned frame; output is one column ``_did``."""
    hi = assigned.select(
        F.col(id_col).alias("a_id"), F.col("cell").alias("a_cell"),
        F.col("cent_sim").alias("a_cs"), F.col("_v").alias("a_v"),
        F.col("_n").alias("a_n"))
    lo = assigned.select(
        F.col(id_col).alias("b_id"), F.col("cell").alias("b_cell"),
        F.col("cent_sim").alias("b_cs"), F.col("_v").alias("b_v"),
        F.col("_n").alias("b_n"))
    pcos = F.when((F.col("a_n") == 0) | (F.col("b_n") == 0), F.lit(0.0)) \
        .otherwise(dot_expr("a_v", "b_v") / (F.col("a_n") * F.col("b_n")))
    return (
        hi.join(
            lo,
            (F.col("a_cell") == F.col("b_cell"))
            & ((F.col("a_cs") < F.col("b_cs"))
               | ((F.col("a_cs") == F.col("b_cs"))
                  & (F.col("a_id") < F.col("b_id")))),
        )
        .where(F.round(pcos, 4) >= eps)
        .select(F.col("b_id").alias("_did"))
        .distinct()
    )


# task-decomposition grain for the SemDeDup GEMM kernels (VERDICT
# r13 #1): a cell with more members than this splits into
# priority-hash blocks (within-cell leg) / corpus-hash blocks
# (vs-corpus leg) so ONE hot cell — the stale-model worst case —
# spreads over the cluster instead of serializing in one Arrow task.
# Cells at or under the grain still run as exactly one task (zero
# extra groups on balanced fits). 2048 measured best of
# {1024, 2048, 4096} at the r13 worst shapes (PERF.md r14: probe
# one-cell 50k 13.4 s -> 3.1 s, inline degenerate 20k 10.66 s ->
# 2.28 s; 1024 loses to per-task overhead, 4096 leaves cores idle).
# Tests monkeypatch these small to exercise the multi-block paths
# on tiny data.
_CELL_BLOCK_ROWS = 2048
_CORPUS_BLOCK_ROWS = 2048


def _np_round_half_up4(np, x):
    """4 dp rounding with HALF_UP (away-from-zero) tie semantics —
    Spark F.round's and DuckDB round()'s rule, NOT numpy's default
    half-to-even (ADVICE r13): a pair cosine that is an exact dyadic
    tie (e.g. 1/32 = 0.03125 -> 312.5 at the 4th decimal) rounds to
    0.0312 under np.round but 0.0313 under both SQL engines, flipping
    a >= eps verdict between kernels asserted bit-equal. The scale-
    and-floor form is tie-exact whenever x*1e4 is representable
    (every constructible dyadic tie is); off-tie values agree with
    BigDecimal rounding except in ulp-pathological cases no measured
    corpus has produced (the pre-existing caveat, now documented).

    This is the CANONICAL reference form; the worker closures below
    inline the same two lines rather than referencing this module
    global (cloudpickle resolves module-level refs by import on the
    executor, which a cluster without the package shipped can't do).
    The boundary pytest asserts this form, the inlined kernels, and
    both SQL engines agree on constructed ties."""
    return np.copysign(np.floor(np.abs(x) * 1e4 + 0.5), x) / 1e4


def _make_cell_block_dropped_fn(eps: float, id_col: str):
    """Block-pair GEMM kernel of _semdedup_dropped_within (VERDICT
    r13 #1): one task scores ONE (lo, hi) block pair of one cell —
    the cell's members are hashed into ceil(m / _CELL_BLOCK_ROWS)
    blocks upstream and replicated to the block pairs containing
    them, so a hot cell (stale model) becomes R(R+1)/2 bounded tasks
    instead of one serial Arrow task. The keep-priority rule (dropped
    iff ANY strictly-earlier (cent_sim ASC, id ASC) member rounds to
    >= eps) has no sequential dependency, so per-pair partial
    verdicts OR together: the diagonal task (lo == hi) evaluates
    within-block pairs with the triangular mask, a cross task
    evaluates exactly its lo x hi pairs in ONE rectangular matmul
    with both directed priority masks. Priority positions come from
    the task-local sort — correct because priority is a total order
    and every pair is co-resident in the task that owns it. Cosine is
    dot/(n_a*n_b) (SQL operand order, ADVICE r12) with zero norms ->
    inf -> sim 0.0, rounded HALF_UP at 4 dp (ADVICE r13 — np.round's
    half-even flips exact dyadic ties vs F.round). Column blocking
    bounds task memory at rows x 512 doubles."""

    def _cell_block_dropped(key, pdf):
        import numpy as np
        import pandas as pd

        lo_b, hi_b = int(key[-2]), int(key[-1])
        if len(pdf) < 2:
            return pd.DataFrame({"_did": pdf[id_col].iloc[:0]})
        pdf = pdf.sort_values(["cent_sim", id_col], kind="mergesort")
        vmat = np.array([np.asarray(e, dtype=np.float64)
                         for e in pdf["_v"]])
        nrm = pdf["_n"].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        cb = 512
        if lo_b == hi_b:
            m = len(pdf)
            dropped = np.zeros(m, dtype=bool)
            for j0 in range(1, m, cb):
                j1 = min(j0 + cb, m)
                denom = np.outer(nrm[:j1], nrm[j0:j1])
                denom[denom == 0] = np.inf
                sims = (vmat[:j1] @ vmat[j0:j1].T) / denom
                sims = np.copysign(
                    np.floor(np.abs(sims) * 1e4 + 0.5), sims) / 1e4
                prior = (np.arange(j1)[:, None]
                         < np.arange(j0, j1)[None, :])
                dropped[j0:j1] = ((sims >= eps) & prior).any(axis=0)
            return pd.DataFrame({"_did": ids[dropped]})
        # cross block pair: one A x B matmul serves BOTH directions
        # (A-member dropped by earlier B-member and vice versa) via
        # the two directed masks over global sorted positions
        pos = np.arange(len(pdf))
        sel_a = pdf["_blk"].to_numpy(dtype=np.int64) == lo_b
        va, na_, pa, ia = vmat[sel_a], nrm[sel_a], pos[sel_a], ids[sel_a]
        vb, nb_, pb, ib = (vmat[~sel_a], nrm[~sel_a],
                           pos[~sel_a], ids[~sel_a])
        if len(ia) == 0 or len(ib) == 0:
            return pd.DataFrame({"_did": ids[:0]})
        drop_a = np.zeros(len(ia), dtype=bool)
        drop_b = np.zeros(len(ib), dtype=bool)
        for j0 in range(0, len(ib), cb):
            j1 = min(j0 + cb, len(ib))
            denom = np.outer(na_, nb_[j0:j1])
            denom[denom == 0] = np.inf
            sims = (va @ vb[j0:j1].T) / denom
            sims = np.copysign(
                np.floor(np.abs(sims) * 1e4 + 0.5), sims) / 1e4
            hit = sims >= eps
            drop_b[j0:j1] = (hit & (pa[:, None]
                                    < pb[None, j0:j1])).any(axis=0)
            drop_a |= (hit & (pb[None, j0:j1]
                              < pa[:, None])).any(axis=1)
        return pd.DataFrame(
            {"_did": np.concatenate([ia[drop_a], ib[drop_b]])})

    return _cell_block_dropped


def _dropped_within(assigned: DataFrame, eps: float, id_col: str,
                    pair_kernel: str) -> DataFrame:
    """Dispatch the within-cell keep-priority rule to the SQL pair
    join or the block-pair GEMM kernel — the ONE switch shared by
    semantic_dedup and semdedup_probe so the two paths cannot grow
    different kernel defaults or output schemas. Output: ``_did``
    typed as the input's id column (ADVICE r12 — the r12 kernel
    hardcoded long and corrupted/crashed on non-integral ids).

    GEMM task decomposition (VERDICT r13 #1): each cell's members
    hash into ceil(m / _CELL_BLOCK_ROWS) blocks and replicate to the
    R(R+1)/2 block pairs containing them, keyed (cell, lo, hi) into
    the shuffle — a hot cell (stale model / under-provisioned k)
    spreads over the cluster instead of serializing in ONE Arrow
    task, and every cell at or under the grain keeps running as
    exactly one task (R=1 -> the diagonal pair only, zero extra
    groups, replication factor 1). Per-cell member counts ride a
    broadcast join off the (checkpointed) assignment — no driver
    collect. The final distinct() is required because a member can
    be dropped by earlier members in several blocks.

    Cost honesty: a member of an R-block cell replicates to R block
    pairs, so a hot cell's shuffle volume is O(m*R) = O(m^2/grain)
    rows — distributed and spill-safe (each task holds <= 2*grain
    rows), but still quadratic in bytes like the FLOPs themselves;
    the max_cell guard / drift-monitor refit remains the answer when
    a cell outgrows what a quadratic rule should ever see."""
    if pair_kernel == "sql":
        return _semdedup_dropped_within(assigned, eps, id_col)
    if pair_kernel == "gemm":
        did_dt = assigned.schema[id_col].dataType.simpleString()
        cnt = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("_m"))
        blocked = (
            assigned.select(id_col, "cell", "cent_sim", "_v", "_n")
            .join(F.broadcast(cnt), "cell")
            .withColumn("_r", F.ceil(F.col("_m")
                                     / F.lit(_CELL_BLOCK_ROWS))
                        .cast("int"))
            .withColumn("_blk", F.pmod(F.xxhash64(F.col(id_col)),
                                       F.col("_r")).cast("int"))
            .withColumn("_ob", F.explode(
                F.sequence(F.lit(0), F.col("_r") - 1)))
            .withColumn("_lo", F.least("_blk", "_ob"))
            .withColumn("_hi", F.greatest("_blk", "_ob"))
            # _m/_r/_ob are routing scaffolding — dead weight on the
            # O(m*R) replicated shuffle rows of exactly the hot-cell
            # path this decomposition optimizes (r14 review finding)
            .drop("_m", "_r", "_ob")
        )
        return (blocked.groupBy("cell", "_lo", "_hi")
                .applyInPandas(_make_cell_block_dropped_fn(eps, id_col),
                               f"_did {did_dt}")
                .distinct())
    raise ValueError(
        f"unknown pair_kernel {pair_kernel!r}; 'sql' or 'gemm'")


def _make_probe_matches_fn(eps: float, id_col: str):
    """Per-(cell, corpus-block) GEMM twin of semdedup_probe's
    vs-corpus leg (VERDICT r12 #1, r13 #1): count each batch member's
    >= eps corpus matches in ONE corpus block of one cell as blocked
    numpy matmuls instead of the interpreted per-pair cosine fold the
    SQL join evaluates — the exact kernel class whose inline form
    read 367 s at sf1 before the r12 fix. The batch side of a cell is
    micro-batch-bounded; the corpus side is hash-split upstream into
    ceil(cell_density / _CORPUS_BLOCK_ROWS) blocks so a HOT cell (the
    stale-model worst case) spreads over that many tasks instead of
    serializing in one, and streams through in 4096-row sub-blocks
    inside the task, so task memory is m_batch x d + 4096 x d doubles
    however dense the probed cell is. Match counts are additive
    across corpus blocks — the caller sums the partials. Cosine is
    dot/(n_a*n_b) with the zero-norm -> 0.0 guard, rounded HALF_UP
    at 4 dp (ADVICE r13 — np.round's half-even flips exact dyadic
    ties vs F.round / DuckDB). Emits only ids with >= 1 match in
    this block, like the SQL leg."""

    def _probe_matches(left, right):
        import numpy as np
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({
                id_col: left[id_col].iloc[:0],
                "n_corpus_matches": pd.Series([], dtype="int64"),
            })
        bmat = np.array([np.asarray(e, dtype=np.float64)
                         for e in left["_v"]])
        bn = left["_n"].to_numpy(dtype=np.float64)
        counts = np.zeros(len(left), dtype=np.int64)
        block = 4096
        for j0 in range(0, len(right), block):
            j1 = min(j0 + block, len(right))
            cmat = np.array([np.asarray(e, dtype=np.float64)
                             for e in right["c_v"].iloc[j0:j1]])
            # corpus norms in-kernel (r15, §4.2): replaces the
            # interpreted norm_expr fold on the probed corpus scan;
            # column-by-column accumulation reproduces that fold's
            # exact IEEE add order, so the 4-dp sims cannot move
            acc = np.zeros(len(cmat), dtype=np.float64)
            for j in range(cmat.shape[1]):
                acc += cmat[:, j] * cmat[:, j]
            cn = np.sqrt(acc)
            denom = np.outer(bn, cn)
            denom[denom == 0] = np.inf
            sims = (bmat @ cmat.T) / denom
            sims = np.copysign(
                np.floor(np.abs(sims) * 1e4 + 0.5), sims) / 1e4
            counts += (sims >= eps).sum(axis=1)
        out = pd.DataFrame({id_col: left[id_col].to_numpy(),
                            "n_corpus_matches": counts})
        return out[counts > 0]

    return _probe_matches


def semantic_dedup(vecs: DataFrame, centroids: list[list[float]],
                   eps: float, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cell: int | None = None,
                   pair_kernel: str = "sql") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): drop near-SEMANTIC duplicates
    inside k-means clusters of the embedding space — the
    embedding-cluster dedup family the repo's exact/minhash/simhash/
    embedding-pair/span operators did not yet cover.

    Keep-priority inside a cluster is (cent_sim ASC, id ASC) — the
    member FARTHEST from its centroid is kept first, the paper's
    representative-selection rule. A member is 'dropped' iff some
    strictly-higher-priority cluster-mate is >= eps cosine-similar
    to it (pair cosines rounded to 4 dp, the repo's cross-engine
    cosine contract). One level, no recursion — deterministic and
    exactly SQL-expressible, so a DuckDB oracle recomputes the whole
    decision from the stored centroid table alone.

    Scale shape: pair comparison happens ONLY within a cluster (the
    pair join is keyed on cell — clusters are the paper's device for
    bounding the quadratic); the directed priority join emits each
    unordered pair once. Degenerate clustering (one giant cell)
    degrades toward all-pairs — measured in the zipf harness; the
    blocked-GEMM variant (cosine_pairs_lsh) is the escape hatch if a
    corpus clusters that badly.

    Output: (id, cell, cent_sim, status in {'kept','dropped'}).

    ``max_cell`` (opt-in, costs one small aggregation job): raise
    instead of silently running a quadratic pair join when a cell
    exceeds the bound — the production guard against a STALE model
    applied to a drifted corpus, where one old cell can swallow most
    of the data (tools/semdedup_stress.py measures that wall: a
    0.95N cell blew a 12-minute budget at N=40k on the SQL kernel
    where the balanced fit took ~1 s). The cure is a refit (k-means
    re-splits dense regions — measured ratio <= 1 for a FRESH fit
    even on 95/5 skew) or more centroids. Since r14 the GEMM kernel
    also task-decomposes hot cells into priority-block pairs
    (degenerate/balanced wall ratio measured 1.23 at N=20k — see
    _dropped_within), so the guard now protects against the
    quadratic FLOP count itself, not a single-task serialization.
    """
    # checkpoint the assignment: it feeds up to four consumers (the
    # max_cell aggregate, both legs of the pair join, the final
    # status join) — without materialization each would rescan the
    # source and recompute all k cosine folds; blocks are GC-freed
    a = _semdedup_assigned(vecs, centroids, id_col, vec_col) \
        .localCheckpoint(eager=True)
    if max_cell is not None:
        worst = (a.groupBy("cell").count()
                 .agg(F.max("count")).collect()[0][0]) or 0
        if worst > max_cell:
            raise ValueError(
                f"semantic_dedup: largest cell has {worst} members "
                f"(> max_cell={max_cell}); the model is stale or k "
                f"is too small for this corpus — refit before "
                f"running the quadratic within-cell pair join")
    # r12: the directed pair join's cosine is a higher-order
    # expression fold — CodegenFallback, interpreter-bound — and
    # the join materializes every within-cell pair candidate.
    # The GEMM kernel computes the same decisions as blocked
    # matmuls per cell (one applyInPandas stage keyed on cell):
    # 367 s -> 5.5 s at 20k vectors / 2.5k-dense cells, identical
    # output (equivalence test-asserted; see PERF.md r12).
    dropped = _dropped_within(a, eps, id_col, pair_kernel)
    return (
        a.join(dropped, a[id_col] == dropped["_did"], "left")
        .select(
            F.col(id_col), F.col("cell").cast("long").alias("cell"),
            F.col("cent_sim"),
            F.when(F.col("_did").isNotNull(), F.lit("dropped"))
            .otherwise(F.lit("kept")).alias("status"),
        )
    )


def semdedup_model_fingerprint(centroids: list[list[float]]) -> str:
    """Deterministic fingerprint of a centroid model — sha256 over the
    exact float64 bit patterns in (cell, dim) order. Stored alongside
    the corpus cells so a probe can detect that the model file was
    refit/replaced since the cells were assigned (stale-cells hole:
    the cells table keys on centroid IDENTITY, not just existence)."""
    import hashlib
    import struct

    h = hashlib.sha256()
    for row in centroids:
        for v in row:
            h.update(struct.pack("<d", v))
    return h.hexdigest()


def semdedup_store_corpus(corpus: DataFrame, centroids: list[list[float]],
                          prefix: str, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          rebuild_includes_appends: bool = False) -> list[str]:
    """Materialize the corpus side of INCREMENTAL SemDeDup as a
    catalog artifact: one table {prefix}_cells holding (id, cell,
    cent_sim, embedding) PARTITIONED BY (cell, _batch) — the
    embedding inverted file, with the _batch level as the
    exactly-once append/compact seam (semdedup_append_corpus). An arriving batch then assigns only itself and
    probes the partitions of the cells it lands in; the corpus is
    never re-assigned and never fully re-scanned (partition pruning
    on cell, the ivfpq_store_index pattern). Shared build bracket:
    sources/readers.py."""
    from ..sources.readers import build_index, overwrite_table

    spark = corpus.sparkSession

    def write() -> list[str]:
        cells = _semdedup_assigned(corpus, centroids, id_col, vec_col) \
            .select(id_col, "cell", "cent_sim",
                    F.col("_v").alias("embedding"))
        # (cell, _batch) two-level partitioning: same exactly-once
        # append contract as the IVFADC codes table
        overwrite_table(cells.withColumn("_batch", F.lit("base")),
                        f"{prefix}_cells", ("cell", "_batch"))
        # model-identity artifact: the cells are only valid under the
        # centroids that assigned them, so the fingerprint is part of
        # the committed index (semdedup_index_current checks it)
        fp = semdedup_model_fingerprint(centroids)
        overwrite_table(spark.createDataFrame([(fp,)], "model_fp STRING"),
                        f"{prefix}_modelfp")
        return [f"{prefix}_cells", f"{prefix}_modelfp"]

    return build_index(spark, prefix, write,
                       includes_appends=rebuild_includes_appends)


def semdedup_index_current(spark, prefix: str,
                           centroids: list[list[float]]) -> bool:
    """True iff the stored SemDeDup corpus index is committed AND was
    assigned under exactly these centroids. Closes the stale-model
    hole: deleting/refitting the centroid artifact must invalidate
    the cells table, or the probe would match NEW-model batch
    assignments against OLD-model corpus partitions."""
    from ..sources.readers import index_ready

    if not index_ready(spark, prefix):
        return False
    rows = spark.table(f"{prefix}_modelfp").collect()
    return (len(rows) == 1
            and rows[0].model_fp == semdedup_model_fingerprint(centroids))


def semdedup_probe(spark, prefix: str, batch: DataFrame,
                   centroids: list[list[float]], eps: float,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   vs_delta: bool = True,
                   pair_kernel: str = "gemm") -> DataFrame:
    """Probe-only incremental SemDeDup: dedup an arriving batch
    against the stored corpus cells AND itself, without touching the
    corpus-side assignment. Per-batch wall is a function of the
    batch and the cells it lands in, not the corpus: the corpus
    table is PARTITIONED BY (cell, _batch) and the probe pushes the batch's
    distinct cell list (bounded by k, one tiny collect off the
    checkpointed batch) as a STATIC IN filter into the scan's
    PartitionFilters (test-asserted), so unprobed cells are never
    read.

    Rules (mirroring dedup_incremental's contract):
      dup_corpus — >= eps cosine to ANY stored corpus member in the
                   batch doc's cell (corpus always outranks a batch
                   arrival); n_corpus_matches counts them
      dup_delta  — else, >= eps to a higher-priority batch-mate in
                   the same cell (priority = cent_sim asc, id asc —
                   semantic_dedup's rule)
      kept       — otherwise

    ``vs_delta=False`` skips the within-batch pair join and emits
    dup_corpus/kept only — each row's verdict then depends on that
    row and the frozen corpus alone, so the result is invariant to
    how the batch is split (the streaming micro-batch twin,
    streaming/jobs.semdedup_probe_stream, relies on exactly this;
    the within-delta rule is NOT split-invariant because a dominator
    dropped in an earlier micro-batch is invisible to later ones —
    cross-micro-batch dedup belongs to the accept side of the
    ingest loop, which appends keepers to the corpus between
    batches).

    ``pair_kernel`` (VERDICT r12 #1): 'gemm' (default) computes BOTH
    pair legs — vs-corpus and within-delta — as per-cell blocked
    numpy matmuls; 'sql' keeps the per-pair expression-fold joins
    (the equivalence baseline, and the inline operator's pre-r12
    shape that read 367 s at sf1). The vs-corpus GEMM runs as a
    cogroup keyed on (cell, corpus-block): the pruned corpus
    partitions shuffle once by cell (bounded by the data the probe
    already reads — the cells are partition-pruned to the batch's
    cell list first) hash-split into ceil(density /
    _CORPUS_BLOCK_ROWS) blocks per cell (VERDICT r13 #1 — a hot
    cell spreads over that many tasks instead of serializing), and
    each task matmuls its micro-batch-bounded batch side against one
    corpus block; additive partial counts sum in a tiny reduce."""
    # three consumers of the batch assignment (corpus join, pair
    # join, final status select) — checkpoint so the batch is
    # assigned exactly once (batch-sized blocks, GC-freed)
    b = _semdedup_assigned(batch, centroids, id_col, vec_col) \
        .localCheckpoint(eager=True)

    # the checkpoint hides the batch from the optimizer's dynamic-
    # partition-pruning rule, so prune the cell-partitioned corpus
    # scan STATICALLY instead: the batch's distinct cells are bounded
    # by k (a few hundred), one tiny collect off the checkpointed
    # blocks, and the IN list lands in the scan's PartitionFilters —
    # unprobed cells are never read, same guarantee, no runtime
    # subquery
    probe_cells = [int(r.cell)
                   for r in b.select("cell").distinct().collect()]
    csel = [F.col("cell").alias("c_cell"),
            F.col(id_col).alias("c_id"),
            F.col("embedding").alias("c_v")]
    if pair_kernel != "gemm":
        # the GEMM kernel derives corpus norms in-kernel (bit-equal
        # column-ordered fold); only the SQL leg still needs the
        # interpreted norm column
        csel.append(norm_expr("embedding").alias("c_n"))
    corpus_cells = spark.table(f"{prefix}_cells") \
        .where(F.col("cell").isin(probe_cells)
               if probe_cells else F.lit(False)) \
        .select(*csel)
    if pair_kernel == "gemm":
        did_dt = b.schema[id_col].dataType.simpleString()
        # task decomposition (VERDICT r13 #1): hash-split each probed
        # cell's CORPUS side into ceil(density / _CORPUS_BLOCK_ROWS)
        # blocks and cogroup on (cell, block) — a hot cell (stale
        # model) spreads over that many tasks instead of serializing
        # the whole GEMM in one; cells at or under the grain keep
        # exactly one task. Per-cell densities ride a broadcast join
        # (the count scan projects only the partition column — no
        # embedding pages read); the micro-batch-bounded batch side
        # replicates once per block of its cell. Match counts are
        # additive across blocks, so partials sum in a tiny reduce.
        pmap = (corpus_cells.groupBy("c_cell")
                .agg(F.count(F.lit(1)).alias("_cm"))
                .select(
                    "c_cell",
                    F.ceil(F.col("_cm") / F.lit(_CORPUS_BLOCK_ROWS))
                    .cast("int").alias("_p")))
        corpus_blocked = (
            corpus_cells.join(F.broadcast(pmap), "c_cell")
            .withColumn("c_blk", F.pmod(F.xxhash64(F.col("c_id")),
                                        F.col("_p")).cast("int"))
            # c_id served only the hash; _p only the modulus — drop
            # both before the corpus-wide shuffle (r14 review finding)
            .drop("c_id", "_p"))
        batch_blocked = (
            b.select(id_col, "cell", "_v", "_n")
            .join(F.broadcast(pmap),
                  F.col("cell") == F.col("c_cell"), "left")
            .withColumn("_blk", F.explode(F.sequence(
                F.lit(0), F.coalesce(F.col("_p"), F.lit(1)) - 1)))
            .drop("c_cell", "_p"))
        vs_corpus = (
            batch_blocked.groupBy("cell", "_blk")
            .cogroup(corpus_blocked.groupBy("c_cell", "c_blk"))
            .applyInPandas(
                _make_probe_matches_fn(eps, id_col),
                f"{id_col} {did_dt}, n_corpus_matches long")
            .groupBy(id_col)
            .agg(F.sum("n_corpus_matches").cast("long")
                 .alias("n_corpus_matches"))
        )
    elif pair_kernel == "sql":
        pcos_c = F.when(
            (F.col("_n") == 0) | (F.col("c_n") == 0), F.lit(0.0)) \
            .otherwise(dot_expr("_v", "c_v")
                       / (F.col("_n") * F.col("c_n")))
        vs_corpus = (
            b.join(corpus_cells, F.col("cell") == F.col("c_cell"))
            .where(F.round(pcos_c, 4) >= eps)
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_corpus_matches"))
        )
    else:
        raise ValueError(
            f"unknown pair_kernel {pair_kernel!r}; 'sql' or 'gemm'")

    if not vs_delta:
        return (
            b.join(vs_corpus, id_col, "left")
            .select(
                F.col(id_col),
                F.when(F.col("n_corpus_matches").isNotNull(),
                       F.lit("dup_corpus"))
                .otherwise(F.lit("kept")).alias("status"),
                F.coalesce(F.col("n_corpus_matches"), F.lit(0))
                .cast("long").alias("n_corpus_matches"),
            )
        )

    delta_drops = _dropped_within(b, eps, id_col, pair_kernel) \
        .select(F.col("_did").alias("_bdid"))

    return (
        b
        .join(vs_corpus, id_col, "left")
        .join(delta_drops, b[id_col] == F.col("_bdid"), "left")
        .select(
            F.col(id_col),
            F.when(F.col("n_corpus_matches").isNotNull(),
                   F.lit("dup_corpus"))
            .when(F.col("_bdid").isNotNull(), F.lit("dup_delta"))
            .otherwise(F.lit("kept")).alias("status"),
            F.coalesce(F.col("n_corpus_matches"), F.lit(0)).cast("long")
            .alias("n_corpus_matches"),
        )
    )


def ivfpq_compact_index(spark, prefix: str) -> dict:
    """Maintenance op closing the ingestion lifecycle (build ->
    exactly-once append -> drift-monitor -> COMPACT -> refit):
    absorb every appended batch of the IVFADC inverted file back
    into the base generation, one file set per cell. The append
    ledger survives, so absorbed batches stay deduplicated against
    re-delivery. Probe results are identical before/after
    (test-asserted); only the file count changes. Bracket and
    single-writer contract: sources/readers.py compact_index."""
    from ..sources.readers import compact_index

    return compact_index(spark, prefix, f"{prefix}_codes")


def semdedup_compact_corpus(spark, prefix: str) -> dict:
    """Same maintenance op for the SemDeDup cells table."""
    from ..sources.readers import compact_index

    return compact_index(spark, prefix, f"{prefix}_cells")


def semdedup_drift(spark, prefix: str, batch: DataFrame,
                   centroids: list[list[float]],
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """The REFIT SIGNAL for the frozen-model incremental paths: every
    append/probe docstring says 'the model is frozen — monitor and
    refit on schedule'; this is that monitor. Per centroid cell,
    compare an arriving batch's assignment quality to the stored
    corpus baseline:

      (cell, n_corpus, n_batch, mean_sim_corpus, mean_sim_batch,
       sim_drift, mass_ratio)

    - mean_sim_* average the (6-dp-rounded) cosine to the assigned
      centroid; computed as integer MICRO-UNIT sums (round(sim*1e6)
      is exact in int64), so the means are exact-sum/count on any
      engine and partition order — a double sum would drift in the
      last ulp and flip a correctness hash.
    - sim_drift = mean_sim_batch - mean_sim_corpus: negative means
      the batch sits farther from its centroids than the corpus the
      model was fit on — quantization/dedup quality is degrading.
    - mass_ratio = batch cell share / corpus cell share: a cell
      swallowing disproportionate new mass is the max_cell stress
      scenario building up (tools/semdedup_stress.py measures where
      that ends).
    Full-outer on cell: cells the batch never hits keep n_batch=0,
    brand-new-mass cells keep n_corpus=0 (nulls in the means they
    lack). One batch-sized projection + two cell-grain aggregates —
    the corpus side reads only (cell, cent_sim) off the stored
    cells table, never the embeddings.
    """
    b = semdedup_batch_stats(
        _semdedup_assigned(batch, centroids, id_col, vec_col))
    return semdedup_drift_from_stats(spark, prefix, b)


def semdedup_batch_stats(assigned: DataFrame) -> DataFrame:
    """(cell, n_batch, _bsum) — the per-cell count and integer
    micro-unit cosine sum of an assigned frame. Associative and
    commutative, so it is ALSO the streaming state of the drift
    monitor: accumulating these per micro-batch and summing drains
    to exactly the batch aggregation whatever the batch split
    (stream twin: streaming/jobs.semdedup_drift_stream)."""
    micro = F.round(F.col("cent_sim") * 1e6).cast("long")
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum(micro).alias("_bsum"))


def semdedup_drift_from_stats(spark, prefix: str,
                              stats: DataFrame) -> DataFrame:
    """Compose the drift report from precomputed batch stats (the
    semdedup_batch_stats shape) and the stored corpus cells — the
    shared tail of the inline and streaming drift paths."""
    from pyspark.sql import Window

    micro = F.round(F.col("cent_sim") * 1e6).cast("long")
    b = stats
    c = (spark.table(f"{prefix}_cells")
         .groupBy("cell")
         .agg(F.count(F.lit(1)).cast("long").alias("n_corpus"),
              F.sum(micro).alias("_csum")))
    # the unpartitioned window runs over the CELL-GRAIN frame —
    # bounded by k centroids (hundreds), never data-sized, and it
    # avoids re-executing the batch-scan aggregate that a
    # 1-row-agg-cross-join formulation of the totals would cost
    w_all = Window.partitionBy()
    tot_b = F.sum("n_batch").over(w_all)
    tot_c = F.sum("n_corpus").over(w_all)
    mean_c = F.round(F.col("_csum") / F.col("n_corpus") / 1e6, 6)
    mean_b = F.round(F.col("_bsum") / F.col("n_batch") / 1e6, 6)
    return (
        c.join(b, "cell", "full_outer")
        .fillna({"n_batch": 0, "n_corpus": 0})
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_corpus", "n_batch",
            mean_c.alias("mean_sim_corpus"),
            mean_b.alias("mean_sim_batch"),
            F.round(mean_b - mean_c, 6).alias("sim_drift"),
            # null, not IEEE Infinity, for brand-new-mass cells —
            # cross-engine reprs of inf disagree more than nulls do
            F.when(F.col("n_corpus") > 0,
                   F.round((F.col("n_batch") / tot_b)
                           / (F.col("n_corpus") / tot_c), 4))
            .alias("mass_ratio"),
        )
    )


def semdedup_append_corpus(spark, prefix: str, accepted: DataFrame,
                           centroids: list[list[float]],
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           batch_id: str | None = None,
                           auto_compact_files_per_cell: int | None = None
                           ) -> int:
    """The accept side of the incremental-SemDeDup loop: after
    semdedup_probe marks a batch, the KEPT members join the corpus —
    assign them (same frozen centroid model, pure projection) and
    land them in the cell-partitioned {prefix}_cells table, so the
    next batch's probe sees them. Returns rows appended. Same
    frozen-model caveat, same EXACTLY-ONCE ``batch_id`` contract
    (ledger-gated idempotent dynamic partition overwrite; None ->
    plain at-least-once append), and same append-path compaction
    cadence (``auto_compact_files_per_cell``) as
    ivfpq_append_to_index (sources/readers.py partitioned_append)."""
    from ..sources.readers import partitioned_append

    # model-identity gate, not just manifest presence: appending cells
    # assigned under a refit model into an old-model index would mix
    # two assignments in one table and silently corrupt every later
    # probe — the same stale-cells hole semdedup_index_current closes
    # on the read path
    if not semdedup_index_current(spark, prefix, centroids):
        raise ValueError(
            f"semdedup_append_corpus: {prefix} is not a committed "
            f"index under THESE centroids — the model was refit (or "
            f"the index is torn); rebuild with semdedup_store_corpus "
            f"before appending")

    def stage() -> DataFrame:
        # not persisted: the assignment is a pure JVM Column
        # projection (no filter), so Catalyst prunes every cosine
        # fold out of the count plan; only the write computes them
        return _semdedup_assigned(accepted, centroids, id_col, vec_col) \
            .select(id_col, "cent_sim", F.col("_v").alias("embedding"),
                    "cell")

    return partitioned_append(spark, prefix, f"{prefix}_cells", batch_id,
                              "semdedup_append_corpus", stage,
                              auto_compact_files_per_cell)
