"""Similarity search over embedding columns (array<float>).

* :func:`cosine_expr` — JVM-side cosine via ``zip_with`` + ``aggregate``
  fold (sequential, deterministic summation order — bit-reproducible
  across partitionings).
* :func:`brute_force_topk` — exact top-k neighbors for a query set:
  broadcast the queries, one pass over the corpus, per-query window.
  Cost O(corpus × queries); the right tool when queries are few.
* :func:`lsh_buckets` / :func:`lsh_topk` — random-hyperplane LSH:
  sign-bit sketch of ``n_planes`` deterministic pseudo-random hyperplanes
  (hash-derived, no stored model), candidates = same-bucket rows, then
  exact cosine re-rank.  The scale path: bucket join shuffles
  O(corpus) keys instead of computing corpus × queries cosines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from hashio_spark.operators.dedupe import band_self_join


def as_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm2_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm2_expr(a) * norm2_expr(b))


@F.pandas_udf(DoubleType())
def _pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    A = np.stack(a.to_numpy())
    B = np.stack(b.to_numpy())
    return pd.Series(np.einsum("ij,ij->i", A, B))


def dot_arrow(a: Column, b: Column) -> Column:
    """Row-wise dot product of two ``array<double>`` columns via one
    Arrow-batched numpy ``einsum`` — the candidate-re-rank hot path,
    where :func:`dot_expr`'s interpreted fold costs a per-element
    evaluator pass per pair.  numpy's summation order may differ from
    the sequential fold's in the last ulp (~1e-16 relative); callers
    comparing the result against a threshold must hold a margin wider
    than that (the near-dup queries measured ≥1e-4 across ALL pairs at
    every shipped SF — see BENCH.md)."""
    return _pair_dot(a, b)


def banded_sign_vals(
    vec: Column | str,
    planes: list[list[float]],
    n_bands: int,
    bits: int,
    quantize: float | None = None,
) -> Column:
    """``array<long>`` of ``n_bands`` hyperplane sign-bucket values for a
    vector column, computed in ONE Arrow-batched numpy matmul.

    Band *i* uses planes ``i*bits .. i*bits+bits-1``; bit *j* of its
    value is ``dot(v, plane) > 0``.  The interpreted higher-order-fold
    form of this (one ``F.aggregate(F.zip_with(...))`` per plane) costs
    ``n_bands × bits`` un-codegen'd per-element evaluator passes per
    row; the matmul replaces them with a single BLAS call per Arrow
    batch — the hot path of every banded-LSH operator in this package.

    ``quantize`` floors ``v * quantize`` before projecting.  With
    integer ``planes`` and quantized vectors every product and partial
    sum is an integer < 2^53, so float64 arithmetic is EXACT regardless
    of summation order — the matmul is bit-identical to the sequential
    fold (this is what the oracle-paired queries rely on).  With float
    planes/vectors, signs of projections within float rounding of zero
    may differ from the fold's — harmless for LSH (candidates shift, the
    exact re-rank decides membership), noted for reproducibility.
    """
    if len(planes) != n_bands * bits:
        raise ValueError(f"need {n_bands * bits} planes, got {len(planes)}")
    P = np.asarray(planes, dtype=np.float64).T  # dim × (n_bands·bits)
    weights = (1 << np.arange(bits, dtype=np.int64))
    q = float(quantize) if quantize is not None else None

    @F.pandas_udf(ArrayType(LongType()))
    def _vals(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        arrs = v.to_numpy()
        null = np.array([a is None for a in arrs])
        if null.all():
            return pd.Series([None] * len(v), dtype=object)
        V = np.stack(arrs[~null])
        if q is not None:
            V = np.floor(V * q)
        S = (V @ P) > 0  # n × (n_bands·bits) sign bits
        vals = (S.reshape(len(V), n_bands, bits).astype(np.int64) * weights).sum(axis=2)
        # NULL vector → NULL band array (the expression form's folds were
        # null-propagating, and posexplode over NULL emits no rows)
        out = np.full(len(v), None, dtype=object)
        for j, row in zip(np.flatnonzero(~null), vals):
            out[j] = row
        return pd.Series(out)

    return _vals(F.col(vec) if isinstance(vec, str) else vec)


def plane_matrix(spark, n_planes: int, dim: int) -> list[list[float]]:
    """Materialize the deterministic :func:`_plane_component` hyperplanes
    as Python floats (one 1-row Spark job evaluating the literal
    expressions), so :func:`banded_sign_vals` projects against the exact
    same plane values the expression form would — no cross-language
    xxhash64 re-derivation."""
    row = (
        spark.range(1)
        .select(
            *[
                F.array(*[_plane_component(p, d) for d in range(dim)]).alias(f"p{p}")
                for p in range(n_planes)
            ]
        )
        .first()
    )
    return [list(row[f"p{p}"]) for p in range(n_planes)]


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, key_col: str, vec_col: str, k: int = 10,
    query_key: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors: (query_id, rank, neighbor_id, cos)."""
    qk = query_key or key_col
    c = corpus.select(F.col(key_col).alias("neighbor_id"), as_double_vec(vec_col).alias("cv"))
    q = queries.select(F.col(qk).alias("query_id"), as_double_vec(vec_col).alias("qv"))
    s = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return s.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _plane_component(plane: int, dim: int) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from xxhash64(plane, dim) — no stored model, identical on
    every executor."""
    h = F.xxhash64(F.lit(plane), F.lit(dim))
    return (F.pmod(h, F.lit(2_000_001)) - F.lit(1_000_000)) / F.lit(1_000_000.0)


def lsh_bucket_expr(vec: Column, n_planes: int = 16, dim: int = 64) -> Column:
    """Sign-bit bucket id of a vector under n_planes hyperplanes."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[_plane_component(p, d) for d in range(dim)]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket.bitwiseOR(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long"))
    return bucket


def lsh_buckets(emb: DataFrame, key_col: str, vec_col: str, n_planes: int = 16, dim: int = 64) -> DataFrame:
    """(key, bucket, v) — bucketed corpus for candidate generation."""
    v = as_double_vec(vec_col)
    return emb.select(F.col(key_col).alias("key"), lsh_bucket_expr(v, n_planes, dim).alias("bucket"), v.alias("v"))


def neardup_pairs(
    emb: DataFrame,
    key_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_bands: int = 8,
    bits_per_band: int | None = None,
    max_bucket: int = 256,
    dim: int = 64,
    target_bucket: int = 64,
) -> DataFrame:
    """Full-corpus embedding near-dup pairs via banded hyperplane LSH:
    ``n_bands`` independent sign-bit sketches of ``bits_per_band``
    hyperplanes each (band i uses planes ``i*r .. i*r+r-1``), candidates
    = rows agreeing on ALL bits of at least one band, per-(band, bucket)
    population capped at ``max_bucket``, then exact cosine re-rank.

    ``bits_per_band=None`` scales the sketch to the corpus:
    ``ceil(log2(n / target_bucket))`` clamped to [4, 34], so expected
    per-band bucket occupancy stays ~``target_bucket`` regardless of
    corpus size — at 10^12 rows that is ~34 bits / 2^34 buckets per
    band.  Candidate volume is Σ_bucket n_bucket² per band, bounded by
    ``n_bands × n/target × cap²`` — linear in the corpus; a fixed plane
    count would be quadratic (r02 VERDICT #2).  Recall at per-bit
    agreement p = 1 - θ/π is ``1-(1-p^r)^b`` — raise ``n_bands`` (cost
    ∝ b) to buy recall at a fixed bucket granularity.  The count() used
    for sizing is skipped when ``bits_per_band`` is given.

    PRECONDITION: ``key_col`` values must be unique (one row per key).
    The candidate set is distinct on (key_a, key_b) and the vectors are
    re-joined by key afterwards, so a key appearing k times multiplies
    the re-join output k² ways and emits the same pair repeatedly
    (ADVICE r5).  Dedupe upstream (``dedupe_exact`` /
    ``dropDuplicates([key])``) before calling — the operator does not
    pay a corpus-wide dedupe for well-formed inputs."""
    import math

    if bits_per_band is None:
        n = emb.count()
        bits_per_band = min(34, max(4, math.ceil(math.log2(max(n, 2) / target_bucket))))
    v = as_double_vec(vec_col)
    keyed = emb.select(F.col(key_col).alias("key"), v.alias("v"))

    # all n_bands·bits plane signs per row come from ONE Arrow matmul
    # (banded_sign_vals) instead of n_bands·bits interpreted folds — at
    # 34 bits × 8 bands that is 272 un-codegen'd array passes per row
    # replaced by a single BLAS call per batch.  Norm once per vector;
    # bands carries ONLY (key, band_id, band_val) so the candidate join
    # shuffles 3 narrow columns, never the vectors; vectors re-join from
    # `base` AFTER the pair set is distinct, so each unordered pair is
    # re-ranked exactly once (dot_arrow — one einsum per Arrow batch).
    # Handles tracked on the result; release via caching.release(result).
    planes = plane_matrix(emb.sparkSession, n_bands * bits_per_band, dim)
    base = keyed.select("key", "v", norm2_expr(F.col("v")).alias("nrm")).persist()
    bands = base.select(
        "key",
        F.posexplode(banded_sign_vals(F.col("v"), planes, n_bands, bits_per_band)).alias(
            "band_id", "band_val"
        ),
    ).persist()
    cand = band_self_join(bands, max_bucket)
    va = base.select(F.col("key").alias("key_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
    vb = base.select(F.col("key").alias("key_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
    out = (
        cand.join(va, "key_a")
        .join(vb, "key_b")
        .select(
            "key_a",
            "key_b",
            (dot_arrow(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    from hashio_spark.caching import track

    return track(out, base, bands)


def ivf_centroids(emb: DataFrame, key_col: str, vec_col: str, n_list: int) -> list[list[float]]:
    """Deterministic coarse quantizer: the ``n_list`` corpus vectors with
    the smallest ``xxhash64(key)`` become the centroids (a tiny
    driver-side model, like broadcasting a trained k-means codebook).

    Hash-ordering makes the pick a uniform pseudo-random SAMPLE of the
    corpus — distribution-representative the way a k-means init sample
    would be — while staying exactly reproducible across runs and
    engines.  The previous smallest-``key`` pick was deterministic but
    statistically poor (r03 VERDICT #7): keys are usually assigned in
    insertion/cluster order, so the first n keys over-sample one region
    of the embedding space and the inverted lists go skewed.  The pick
    itself is a TakeOrderedAndProject (per-partition heaps of n_list
    rows), not a global sort; n_list × dim doubles — KB-scale even at
    n_list=65536."""
    rows = (
        emb.orderBy(F.xxhash64(F.col(key_col).cast("string")), key_col).limit(n_list)
        .select(as_double_vec(vec_col).alias("c"))
        .collect()
    )
    return [list(r["c"]) for r in rows]


def kmeans_refine(
    emb: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    n_iters: int = 3,
) -> list[list[float]]:
    """Lloyd refinement of an IVF codebook, spherical variant (cosine
    assignment, mean update) — entirely DataFrame ops, the iterative-
    algorithm pattern MLlib's KMeans uses under the hood:

    * assignment is a per-row broadcast-codebook expression (no shuffle,
      no model object);
    * the update is ONE HashAggregate per iteration with ``dim`` avg
      columns — ``F.array(avg(v[0]), …, avg(v[d-1]))`` — so map-side
      partials carry dim doubles per (task, list), never the vectors
      themselves, and NO posexplode row-blowup;
    * the driver collects n_list × dim doubles per iteration (the
      codebook — KB-scale), exactly the coordinator traffic a real
      k-means job pays.

    Empty lists keep their previous centroid (standard Lloyd fallback),
    so the codebook size is stable.  Deterministic: assignment ties
    break by list id (array_max on (cos, lid) structs picks the highest
    lid among equal cosines — consistent everywhere), and the mean's
    float summation happens inside Spark's fixed-order partial/final
    aggregation over a deterministic assignment, identical across runs
    of the same input partitioning; cross-partitioning last-ulp drift is
    acceptable for a codebook (unlike digests, which stay exact).
    """
    if not centroids:
        raise ValueError("kmeans_refine needs a non-empty initial codebook")
    dim = len(centroids[0])
    vecs = emb.select(as_double_vec(vec_col).alias("cv"))
    vecs = vecs.select("cv", norm2_expr(F.col("cv")).alias("cn"))
    # n_iters scans of the same narrow projection: persist once, release
    # before returning (no leaked cache handles, ADVICE r3 #4 discipline)
    vecs = vecs.persist()
    try:
        for _ in range(n_iters):
            assigned = vecs.select(
                "cv",
                ivf_assign_arrow(F.col("cv"), centroids).alias("list_id"),
            )
            means = (
                assigned.groupBy("list_id")
                .agg(F.array(*[F.avg(F.col("cv")[i]) for i in range(dim)]).alias("c"))
                .collect()
            )
            new = {int(r["list_id"]): [float(x) for x in r["c"]] for r in means}
            centroids = [new.get(i, c) for i, c in enumerate(centroids)]
    finally:
        vecs.unpersist()
    return centroids


def ivf_assign_arrow(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid list id of an ``array<double>`` vector column via
    one Arrow numpy matmul per batch — replaces ``n_list`` interpreted
    cosine folds per corpus row.  Tie semantics match
    ``array_max(_centroid_scores(...))["lid"]`` exactly (max cosine,
    then max lid); decision safety against the expression form's
    summation order holds because the top-2 centroid-score gap measured
    ≥3.4e-5 across every shipped SF vs ~1e-16 reorder noise (BENCH.md).
    NULL vectors yield NULL."""
    from pyspark.sql.types import IntegerType

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0.0] = 1.0
    CT = (C / cn[:, None]).T  # dim × n_list, centroid-normalized

    @F.pandas_udf(IntegerType())
    def _assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        arrs = v.to_numpy()
        null = np.array([a is None for a in arrs])
        out = np.full(len(v), None, dtype=object)
        if not null.all():
            V = np.stack(arrs[~null])
            S = V @ CT  # vector norm divides out of the argmax
            nl = S.shape[1]
            lids = (nl - 1) - np.argmax(S[:, ::-1], axis=1)  # max lid on exact ties
            for j, lid in zip(np.flatnonzero(~null), lids):
                out[j] = int(lid)
        return pd.Series(out)

    return _assign(vec)


def _centroid_scores(vec: Column, nrm: Column, centroids: list[list[float]]) -> Column:
    """array<struct<cos,lid>> — cosine of ``vec`` to every centroid.
    Centroid norms are Python-precomputed constants; ``vec``/``nrm`` must
    be bound attributes (BENCH.md finding #7)."""
    import math

    out = []
    for i, c in enumerate(centroids):
        arr = F.array(*[F.lit(float(x)) for x in c])
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        cos = dot_expr(vec, arr) / (nrm * F.lit(cn))
        out.append(F.struct(cos.alias("cos"), F.lit(i).alias("lid")))
    return F.array(*out)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    key_col: str,
    vec_col: str,
    k: int = 10,
    n_list: int = 16,
    n_probe: int = 4,
    query_key: str | None = None,
    centroids: list[list[float]] | None = None,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are assigned to their nearest
    centroid (inverted lists); each query probes its ``n_probe`` nearest
    lists and exact-cosine re-ranks only those lists' members.

    Scale shape: assignment is a per-row expression (no shuffle, no
    model training job — the codebook is a broadcast-sized constant);
    the only shuffle is the list_id equi-join, whose volume is
    n_probe/n_list of the corpus per query batch.  Recall is tuned by
    ``n_probe`` (probe all lists → exact).  At 10^12 rows, n_list grows
    to ~n/target_list_size and the codebook comes from a proper k-means
    sample — the plan shape is unchanged."""
    qk = query_key or key_col
    if centroids is None:
        centroids = ivf_centroids(emb, key_col, vec_col, n_list)
    if refine_iters > 0:
        centroids = kmeans_refine(emb, vec_col, centroids, n_iters=refine_iters)

    c = emb.select(F.col(key_col).alias("neighbor_id"), as_double_vec(vec_col).alias("cv"))
    c = c.select("neighbor_id", "cv", norm2_expr(F.col("cv")).alias("cn"))
    # corpus assignment via the Arrow matmul kernel (decision-safe, see
    # ivf_assign_arrow); the tiny query side keeps the expression form
    c = c.select(
        "neighbor_id", "cv", "cn",
        ivf_assign_arrow(F.col("cv"), centroids).alias("list_id"),
    )

    q = queries.select(F.col(qk).alias("query_id"), as_double_vec(vec_col).alias("qv"))
    q = q.select("query_id", "qv", norm2_expr(F.col("qv")).alias("qn"))
    probes = F.slice(
        F.sort_array(_centroid_scores(F.col("qv"), F.col("qn"), centroids), asc=False), 1, n_probe
    )
    q = q.select(
        "query_id", "qv", "qn",
        F.explode(F.transform(probes, lambda s: s["lid"])).alias("list_id"),
    )

    cand = c.join(F.broadcast(q), "list_id").filter(F.col("neighbor_id") != F.col("query_id"))
    s = cand.select(
        "query_id",
        "neighbor_id",
        (dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return s.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    emb: DataFrame, queries: DataFrame, key_col: str, vec_col: str, k: int = 10,
    n_planes: int = 8, dim: int = 64, query_key: str | None = None,
) -> DataFrame:
    """Approximate top-k: same-bucket candidates + exact cosine re-rank.

    Recall is tunable via n_planes (fewer planes → bigger buckets → higher
    recall, more compute).  Multi-probe (flipping one bit) doubles recall
    for 2× candidates — left as the probes=1 baseline here."""
    qk = query_key or key_col
    c = lsh_buckets(emb, key_col, vec_col, n_planes, dim)
    q = lsh_buckets(queries.withColumnRenamed(qk, key_col) if qk != key_col else queries, key_col, vec_col, n_planes, dim)
    q = q.select(F.col("key").alias("query_id"), F.col("bucket"), F.col("v").alias("qv"))
    cand = c.join(F.broadcast(q), "bucket").filter(F.col("key") != F.col("query_id"))
    s = cand.select("query_id", F.col("key").alias("neighbor_id"), cosine_expr(F.col("qv"), F.col("v")).alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return s.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
