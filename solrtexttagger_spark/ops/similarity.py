"""Embedding similarity search over an array<float> column.

Four ANN paths, all deterministic:
  - cosine_topk: brute-force exact baseline (all JVM: zip_with + aggregate,
    broadcast probes, window top-k).
  - lsh_cosine_topk: random-hyperplane LSH (md5-derived planes), multi-probe
    Hamming neighborhoods — data-oblivious cells, oracle-mirrorable in SQL.
  - ivf_cosine_topk: IVF with deterministic k-means coarse quantization —
    data-following cells; best recall/candidate on clustered corpora.
  - pq_cosine_topk: product quantization — ADC lookup-table scoring over
    m-byte codes (64x narrower scan than raw vectors) + exact rerank;
    the memory-resident-codes scale path.
cosine_dup_pairs does near-dup PAIR generation with banded hyperplane LSH
candidates + exact rescoring (the all-pairs theta-join only as
method='exact' for oracles).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from solrtexttagger_spark.plans import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _seq_dot(a, b) -> float:
    """Driver-side twin of ``_dot``: the same left-to-right IEEE-double
    fold (acc = 0.0; acc += a_i * b_i), so a value recomputed here is
    bit-identical to the JVM expression's."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _probe_dim(emb_df: DataFrame, vec_col: str) -> int:
    """Infer embedding dimensionality from the first non-null vector; a clear
    error on empty input instead of `first()[0]` raising TypeError."""
    row = emb_df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
    if row is None:
        raise ValueError(
            f"cannot infer embedding dim: column '{vec_col}' has no non-null "
            "rows — pass dim= explicitly"
        )
    return len(row[0])


def cosine_topk(
    emb_df: DataFrame,
    probe_ids: list[int],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_to: int | None = 4,
) -> DataFrame:
    """Exact cosine top-k: for each probe id, the k nearest other vectors.
    Output (probe_id, rank, vec_id, cos). Deterministic tie-break on vec_id."""
    base = emb_df.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    probes = base.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("norm").alias("pnorm"),
    )
    cos = _dot(F.col("pv"), F.col("v")) / (F.col("pnorm") * F.col("norm"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = (
        base.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", cos.alias("cos"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "rank", "vec_id", "cos")
    )


def cosine_dup_pairs(
    emb_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int = 4,
    method: str = "lsh",
    bands: int = 16,
    band_planes: int = 6,
    dim: int | None = None,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a_vec_id, b_vec_id, cos) with
    cos >= threshold, a < b.

    method='lsh' (default, the 100 TB shape): banded random-hyperplane LSH —
    vectors sharing ANY band of ``band_planes`` sign bits become candidates
    (one equi-shuffle on the band key), then candidates are exactly rescored.
    Same plan family as minhash LSH banding (ops/dedup.lsh_candidate_pairs):
    no theta-join, no BroadcastNestedLoop/cartesian anywhere. Deterministic
    (md5-derived hyperplanes), so the operator is oracle-checkable
    end-to-end. Recall vs the exact operator rises with bands and with the
    pair's cosine; near-dup-grade pairs (cos >= ~0.9) are caught with high
    probability at the defaults, while pairs barely above a loose threshold
    may be missed — bench.py reports measured recall.

    Oversized buckets (> ``max_bucket_size`` members — e.g. a boilerplate
    cluster of thousands of near-identical vectors) are NOT dropped: instead
    of the quadratic in-bucket explosion they emit STAR pairs against the
    bucket's deterministic representative (min vec_id), so every member still
    yields at least one near-dup pair and connected-component clustering
    recovers the full cluster, with output linear in the bucket size. Small
    buckets pair exhaustively as before.

    NOTE default changed round 2 from 'exact' to 'lsh' (approximate
    candidates + exact rescore). Pass method='exact' for the all-pairs
    theta-join baseline — O(n^2) compare, only for test-scale inputs and as
    the recall oracle.
    """
    base = emb_df.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))

    if method == "exact":
        a = base.select(
            F.col("vec_id").alias("a_vec_id"), F.col("v").alias("va"), F.col("norm").alias("na")
        )
        b = base.select(
            F.col("vec_id").alias("b_vec_id"), F.col("v").alias("vb"), F.col("norm").alias("nb")
        )
        cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_to)
        return (
            a.join(b, F.col("a_vec_id") < F.col("b_vec_id"))
            .withColumn("cos", cos)
            .where(F.col("cos") >= threshold)
            .select("a_vec_id", "b_vec_id", "cos")
        )
    if method != "lsh":
        raise ValueError(f"method must be 'lsh'|'exact', got {method}")

    if dim is None:
        dim = _probe_dim(emb_df, vec_col)
    n_planes = bands * band_planes
    # one Arrow-vectorized pass: all plane sign bits + per-band keys per
    # vector (numpy matmul against the closure plane matrix — guide §4.2);
    # the former JVM literal plane matrix cost ~5 s of py4j plan build per
    # call (bands*band_planes*dim F.lit round trips) plus interpreted
    # per-element lambda evaluation per row
    keys = _band_keys_udf(
        [_hyperplane(dim, p) for p in range(n_planes)], bands, band_planes
    )
    band_rows = base.select(
        "vec_id", F.posexplode(keys(F.col("v"))).alias("band", "band_key")
    )

    from solrtexttagger_spark.ops.dedup import bucket_pairs

    buckets = (
        band_rows.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_set("vec_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    cand = (
        bucket_pairs(buckets, max_bucket_size=max_bucket_size)
        .select(F.col("p.a").alias("a_vec_id"), F.col("p.b").alias("b_vec_id"))
        .distinct()
    )
    a = base.select(
        F.col("vec_id").alias("a_vec_id"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = base.select(
        F.col("vec_id").alias("b_vec_id"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_to)
    return (
        cand.join(a, "a_vec_id")
        .join(b, "b_vec_id")
        .withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .select("a_vec_id", "b_vec_id", "cos")
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component in [-1, 1) from md5 —
    reproducible across engines and runs (no RNG state)."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"{plane}#{d}".encode()).hexdigest()[:15], 16)
        out.append((h / float(1 << 60)) * 2.0 - 1.0)
    return out


def _plane_bits(vecs: pd.Series, P: np.ndarray) -> np.ndarray:
    """Sign bits of every vector against every hyperplane row of ``P`` —
    ONE numpy matmul per Arrow batch (guide §4.2) instead of
    planes x dim interpreted per-element expressions (whose F.lit storm
    alone cost seconds of py4j plan-build per call). A null vector, a
    dimension mismatch, or a NaN dot yield bit 0, as in the former
    zip_with/aggregate fold, but the bits are NOT bit-identical to it:
    the matmul sums each dot product in its own order, so a dot product
    within rounding of zero can take the other sign and move the vector
    to another bucket. Bucketing only picks candidates; the exact cosine
    of every candidate pair is still the sequential fold (_dot)."""
    n = len(vecs)
    dim = P.shape[1]
    ok = np.fromiter(
        (v is not None and len(v) == dim for v in vecs), dtype=bool, count=n
    )
    M = np.zeros((n, dim), dtype=np.float64)
    if ok.any():
        M[ok] = np.stack(
            [np.asarray(v, dtype=np.float64) for v, o in zip(vecs, ok) if o]
        )
    bits = (M @ P.T) > 0
    bits[~ok] = False
    return bits


def _band_keys_udf(planes: list[list[float]], bands: int, band_planes: int):
    """Pandas UDF factory: per-vector array of ``bands`` integer band keys
    (little-endian bit packing of each band's ``band_planes`` sign bits,
    identical to the former per-band element_at sum)."""
    P = np.asarray(planes, dtype=np.float64)
    w = 1 << np.arange(band_planes, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def keys(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        bits = _plane_bits(vecs, P)
        K = bits.reshape(len(vecs), bands, band_planes).astype(np.int64) @ w
        return pd.Series(list(K.tolist()))

    return keys


def _signature_udf(planes: list[list[float]]):
    """Pandas UDF factory: single integer LSH signature (bit p set when
    dot(v, plane_p) > 0) — the vectorized twin of the former per-plane
    when/otherwise sum."""
    P = np.asarray(planes, dtype=np.float64)
    w = 1 << np.arange(len(planes), dtype=np.int64)

    @F.pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        bits = _plane_bits(vecs, P)
        return pd.Series(bits.astype(np.int64) @ w, dtype="int64")

    return sig


def lsh_cosine_topk(
    emb_df: DataFrame,
    probe_ids: list[int],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 8,
    dim: int | None = None,
    round_to: int | None = 4,
    multi_probe: bool | int = True,
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane LSH bucketing, exact
    cosine within the candidate buckets only. At 1e9+ vectors this replaces
    the crossJoin with an equi-join on the bucket key.

    multi_probe: Hamming probing radius (True == 1). Radius 1 probes the
    probe's own bucket plus the ``num_planes`` buckets reachable by flipping
    one sign bit (the planes a near neighbor most plausibly disagrees on);
    radius 2 adds the C(num_planes, 2) two-bit flips. Candidate volume grows
    with the binomial neighborhood while recall rises steeply; each vector
    still lives in exactly one bucket, so no dedup is needed."""
    if dim is None:
        dim = _probe_dim(emb_df, vec_col)
    planes = [_hyperplane(dim, p) for p in range(num_planes)]

    base = emb_df.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    # bucket assignment is ONE vectorized numpy pass per Arrow batch
    # (guide §4.2) instead of num_planes interpreted zip_with folds per
    # row plus a num_planes*dim F.lit plan tree; the exact-cosine scoring
    # below stays the JVM sequential fold (hash-pinned values untouched)
    sig = _signature_udf(planes)
    bucketed = base.withColumn("bucket", sig(F.col("v"))).withColumn(
        "norm", F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    probes = bucketed.where(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("norm").alias("pnorm"),
        F.col("bucket"),
    )
    radius = int(multi_probe)
    if radius:
        masks = [0] + [1 << p for p in range(num_planes)]
        if radius >= 2:
            masks += [
                (1 << p) | (1 << q)
                for p in range(num_planes)
                for q in range(p + 1, num_planes)
            ]
        cand_buckets = F.array(
            *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
        )
        probes = probes.withColumn("bucket", F.explode(cand_buckets))
    cos = _dot(F.col("pv"), F.col("v")) / (F.col("pnorm") * F.col("norm"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = (
        bucketed.join(F.broadcast(probes), "bucket")
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", cos.alias("cos"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "rank", "vec_id", "cos")
    )


def _centroid_assign_udf(centroids):
    """Pandas UDF factory: argmax-cosine centroid id per vector (numpy
    matmul against the broadcast centroid matrix — Arrow-vectorized)."""
    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        vnorm = np.linalg.norm(m, axis=1)
        vnorm[vnorm == 0] = 1.0
        cos = (m @ cmat.T) / vnorm[:, None] / cnorm[None, :]
        return pd.Series(np.argmax(cos, axis=1).astype("int32"))

    return assign


def ivf_fit_centroids(
    emb_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 64,
    iters: int = 3,
) -> list[list[float]]:
    """Distributed k-means (Lloyd) for IVF coarse quantization, reproducible
    up to floating-point aggregation order.

    Init = the n_centroids smallest-id vectors (no RNG), so runs are
    deterministic for a FIXED partitioning; F.avg over doubles merges partial
    aggregates in partition order, so centroids can differ in low-order bits
    across different partitionings and flip argmax assignments on exact
    near-ties. Treat the fitted centroids as an artifact: fit once per index
    build, persist, and pass them back via ``centroids=`` for bit-stable
    query behavior. Each iteration: one vectorized assignment pass (pandas
    UDF) + one groupBy mean per (centroid, dim) — the standard Spark k-means
    shape. Centroids return to the driver (n_centroids x dim)."""
    base = emb_df.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    centroids = [
        list(r["v"])
        for r in base.orderBy("vec_id").limit(n_centroids).collect()
    ]
    for _ in range(iters):
        assign = _centroid_assign_udf(centroids)
        assigned = base.withColumn("cid", assign(F.col("v")))
        new = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in new:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        dim = len(centroids[0])
        centroids = [
            [by_cid[c][d] for d in range(dim)] if c in by_cid else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def ivf_cosine_topk(
    emb_df: DataFrame,
    probe_ids: list[int],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 64,
    n_probe: int = 8,
    iters: int = 3,
    centroids: list[list[float]] | None = None,
    round_to: int | None = 4,
) -> DataFrame:
    """IVF approximate cosine top-k: k-means coarse quantization, then exact
    scoring only inside each probe's ``n_probe`` nearest centroid cells.

    The third ANN path next to brute force (exact) and hyperplane LSH:
    where LSH cells are data-oblivious, IVF cells follow the data
    distribution, so clustered corpora get much better recall per candidate.
    Scan fraction ~= n_probe / n_centroids. Pass precomputed ``centroids``
    to amortize training across query batches (the production shape: fit
    once per index build, persist with the index)."""
    if centroids is None:
        centroids = ivf_fit_centroids(
            emb_df,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=n_centroids,
            iters=iters,
        )
    base = emb_df.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    assign = _centroid_assign_udf(centroids)
    indexed = base.withColumn("cid", assign(F.col("v"))).withColumn(
        "norm", F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    # driver-side: each probe's n_probe nearest centroids (tiny)
    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0
    probe_rows = base.where(F.col("vec_id").isin(probe_ids)).collect()
    pc = []
    for r in probe_rows:
        pv = np.asarray(r["v"], dtype=np.float64)
        pn = np.linalg.norm(pv) or 1.0
        cos_c = (cmat @ pv) / (cnorm * pn)
        order = np.lexsort((np.arange(len(cmat)), -cos_c))[:n_probe]
        for cid in order:
            pc.append((int(r["vec_id"]), int(cid)))
    spark = emb_df.sparkSession
    probe_cells = local_frame(spark, pc, "probe_id long, cid int")
    # the probe vectors were already collected above — build the (tiny)
    # broadcast relation from those rows instead of re-scanning the
    # corpus a second time for the same 50-odd vectors. pnorm matches
    # the scan expression bit-for-bit: F.sqrt over a LITERAL dot value
    # equals the former sqrt-over-fold because the fold itself is the
    # same left-to-right sum, re-executed here in Python.
    probes = local_frame(
        spark,
        [
            (int(r["vec_id"]), list(r["v"]), _seq_dot(r["v"], r["v"]))
            for r in probe_rows
        ],
        "probe_id long, pv array<double>, pnorm_sq double",
    ).select(
        "probe_id", "pv", F.sqrt(F.col("pnorm_sq")).alias("pnorm")
    )
    cand = indexed.join(F.broadcast(probe_cells), "cid").join(
        F.broadcast(probes), "probe_id"
    )
    cos = _dot(F.col("pv"), F.col("v")) / (F.col("pnorm") * F.col("norm"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = cand.where(F.col("vec_id") != F.col("probe_id")).select(
        "probe_id", "vec_id", cos.alias("cos")
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "rank", "vec_id", "cos")
    )


def _pq_sample(emb_df, id_col, vec_col, sample_size):
    rows = (
        emb_df.select(
            F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
        )
        .orderBy("vec_id")
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError("cannot fit PQ on an empty corpus")
    return np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])




def _lloyd(S: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Deterministic Lloyd k-means (init = first k rows, no RNG)."""
    C = S[: min(k, len(S))].copy()
    if len(C) < k:  # degenerate tiny corpus: pad by repeating
        C = np.vstack([C] * (k // len(C) + 1))[:k]
    for _ in range(iters):
        d2 = (S**2).sum(1)[:, None] - 2.0 * (S @ C.T) + (C**2).sum(1)[None, :]
        a = d2.argmin(1)
        for c in range(k):
            if (a == c).any():
                C[c] = S[a == c].mean(0)
    return C


def pq_fit_coarse(
    emb_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_coarse: int = 32,
    iters: int = 8,
    sample_size: int = 2048,
    sample: np.ndarray | None = None,
) -> list[list[float]]:
    """Coarse (first-level) centroids for RESIDUAL product quantization,
    trained driver-side on the deterministic sample (``sample_size``
    smallest-id vectors, no RNG). Tiny artifact — fit once per index
    build, persist, pass back via ``centroids=``. ``sample``: a
    pre-collected matrix from the same deterministic draw — lets
    pq_cosine_topk share ONE corpus sample between coarse and codebook
    training instead of two identical sort+collect jobs."""
    X = sample if sample is not None else _pq_sample(
        emb_df, id_col, vec_col, sample_size
    )
    return [[float(x) for x in row] for row in _lloyd(X, n_coarse, iters)]


def pq_fit_codebooks(
    emb_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iters: int = 8,
    sample_size: int = 2048,
    centroids: list[list[float]] | None = None,
    sample: np.ndarray | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: ``m`` subspaces x ``ksub`` centroids
    each, Lloyd k-means on a DETERMINISTIC sample driver-side in numpy —
    the FAISS-style shape: PQ training is a tiny fixed-cost artifact
    (m*ksub*dim/m floats), never a corpus-scale job.

    With ``centroids`` (from pq_fit_coarse) the codebooks are trained on
    RESIDUALS v - c(v): within-cell ranking signal lives in the residual,
    so residual codebooks resolve neighbors that flat-PQ quantization
    noise drowns (the IVF-PQ construction). Fit once per index build,
    persist, pass back via ``codebooks=``. ``sample``: see
    pq_fit_coarse."""
    X = sample if sample is not None else _pq_sample(
        emb_df, id_col, vec_col, sample_size
    )
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        d2 = (X**2).sum(1)[:, None] - 2.0 * (X @ C.T) + (C**2).sum(1)[None, :]
        X = X - C[d2.argmin(1)]
    dsub = dim // m
    return [
        [[float(x) for x in row] for row in _lloyd(X[:, j * dsub : (j + 1) * dsub], ksub, iters)]
        for j in range(m)
    ]


def pq_encode(
    emb_df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Encode every vector to a coarse cell id + ``m`` small residual
    codes + its true norm: (vec_id, cid, codes array<int>, norm). ONE
    Arrow-vectorized pass (numpy argmin per subspace), narrow output — at
    100 TB this is the point of PQ: the query-time scan reads a few bytes
    of codes per vector instead of dim*8 bytes of floats (64x for
    dim=64/m=8). Without ``centroids`` every row gets cid=0 (flat PQ)."""
    cb = np.asarray(codebooks, dtype=np.float64)  # m x ksub x dsub
    m, _ksub, dsub = cb.shape
    cb2 = (cb**2).sum(-1)  # m x ksub
    C = None if centroids is None else np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("struct<cid:int,codes:array<int>>")
    def enc(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame(
                {"cid": pd.Series([], dtype="int32"),
                 "codes": pd.Series([], dtype=object)}
            )
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if C is None:
            cid = np.zeros(len(X), dtype=np.int32)
        else:
            d2 = (X**2).sum(1)[:, None] - 2.0 * (X @ C.T) + (C**2).sum(1)[None, :]
            cid = d2.argmin(1).astype(np.int32)
            X = X - C[cid]
        codes = np.empty((len(X), m), dtype=np.int64)
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            d2 = cb2[j][None, :] - 2.0 * (S @ cb[j].T)  # + |S|^2, const per row
            codes[:, j] = d2.argmin(1)
        return pd.DataFrame(
            {"cid": pd.Series(cid, dtype="int32"),
             "codes": pd.Series([c.tolist() for c in codes])}
        )

    base = emb_df.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    return base.select(
        "vec_id",
        enc("v").alias("e"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("norm"),
    ).select("vec_id", F.col("e.cid").alias("cid"), F.col("e.codes").alias("codes"), "norm")


def pq_cosine_topk(
    emb_df: DataFrame,
    probe_ids: list[int],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    n_coarse: int = 0,
    n_probe: int = 0,
    rerank_factor: int = 4,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
    round_to: int | None = 4,
    adc_round_to: int | None = None,
) -> DataFrame:
    """PQ approximate cosine top-k — the fourth ANN path (exact / LSH /
    IVF / PQ). Asymmetric distance computation (ADC): each probe becomes
    an m x ksub lookup table of subspace dot products against the
    (residual) codebooks; a stored vector's approximate dot is
    dot(probe, coarse_centroid[cid]) + the sum of m table lookups on its
    codes. The top ``k * rerank_factor`` by ADC score are exactly
    rescored against the full vectors, so every returned cos is TRUE
    cosine (subset property: exact scores over a PQ-chosen candidate
    set).

    ``n_coarse`` > 0 enables residual encoding (IVF-PQ): within-cell
    ranking signal lives in the residual, which flat PQ drowns in
    quantization noise. ``n_probe`` > 0 additionally restricts the ADC
    scan to each probe's n_probe nearest cells — the sublinear scan path
    (fraction ~ n_probe/n_coarse) on top of the 64x-narrower codes.

    Physical shape: one broadcast relation (probe_id, cid, off, lut,
    pnorm) — n_probe rows per probe carrying the per-cell offset and the
    shared LUT; the ADC fold is zip_with + element_at + aggregate, pure
    JVM over the narrow codes relation (no Python in the query hot path;
    the only pandas UDF is the one-time encode). The rescore joins the
    small candidate set back to the full vectors via broadcasts. Pass
    ``centroids``/``codebooks``/``encoded`` to amortize the build across
    query batches (the production shape)."""
    spark = emb_df.sparkSession
    sample = None
    if (n_coarse > 0 and centroids is None) or codebooks is None:
        # one deterministic sample collect shared by coarse + codebook
        # training (they draw the identical smallest-id sample)
        sample = _pq_sample(emb_df, id_col, vec_col, 2048)
    if n_coarse > 0 and centroids is None:
        centroids = pq_fit_coarse(
            emb_df, id_col=id_col, vec_col=vec_col, n_coarse=n_coarse,
            sample=sample,
        )
    if codebooks is None:
        codebooks = pq_fit_codebooks(
            emb_df, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub,
            centroids=centroids, sample=sample,
        )
    cb = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = cb.shape
    C = (
        np.zeros((1, m * dsub))
        if centroids is None
        else np.asarray(centroids, dtype=np.float64)
    )
    if encoded is None:
        encoded = pq_encode(
            emb_df, codebooks, id_col=id_col, vec_col=vec_col, centroids=centroids
        )
    base = emb_df.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    probe_rows = base.where(F.col("vec_id").isin(list(probe_ids))).collect()
    cells = range(len(C))
    lut_rows, pv_rows = [], []
    if probe_rows:
        # ONE einsum for every probe's m x ksub LUT and one matmul for all
        # cell offsets — no Python loop over subspaces/centroids (round-4
        # verdict #7); the remaining per-probe loop only assembles rows.
        PV = np.stack([np.asarray(r["v"], dtype=np.float64) for r in probe_rows])
        luts_all = np.einsum("mkd,pmd->pmk", cb, PV.reshape(len(PV), m, dsub))
        offs_all = PV @ C.T  # P x n_cells: exact dot(probe, coarse centroid)
    for i, r in enumerate(probe_rows):
        pv = PV[i]
        pnorm = float(np.linalg.norm(pv)) or 1.0
        lut = [[float(x) for x in row] for row in luts_all[i]]
        offs = offs_all[i]
        probe_cells = cells
        if n_probe > 0 and len(C) > n_probe:
            # nearest cells by centroid dot — deterministic tie-break on cid
            order = np.lexsort((np.arange(len(C)), -offs))
            probe_cells = [int(c) for c in order[:n_probe]]
        for cid in probe_cells:
            lut_rows.append((int(r["vec_id"]), int(cid), float(offs[cid]), lut, pnorm))
        pv_rows.append((int(r["vec_id"]), [float(x) for x in pv], pnorm))
    ludf = local_frame(
        spark,
        lut_rows,
        "probe_id long, cid int, off double, lut array<array<double>>, pnorm double",
    )
    adc = F.aggregate(
        F.zip_with("codes", "lut", lambda c, row: F.element_at(row, c + 1)),
        F.col("off"),
        lambda acc, x: acc + x,
    )
    acos = adc / (F.col("pnorm") * F.col("norm"))
    if adc_round_to is not None:
        # pin the candidate-set boundary across engines: ulp-level ADC
        # differences at the arank = k*rerank_factor edge would otherwise
        # flip which candidates reach the exact rescore (oracle mirroring)
        acos = F.round(acos, adc_round_to)
    approx = (
        encoded.join(F.broadcast(ludf), "cid")
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", acos.alias("acos"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("acos").desc(), F.col("vec_id"))
    cand = (
        approx.withColumn("arank", F.row_number().over(w))
        .where(F.col("arank") <= k * rerank_factor)
        .select("probe_id", "vec_id")
    )
    pvdf = local_frame(spark, pv_rows, "probe_id long, pv array<double>, pnorm double")
    rescored = (
        base.withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(pvdf), "probe_id")
    )
    cos = _dot(F.col("pv"), F.col("v")) / (F.col("pnorm") * F.col("norm"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    w2 = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        rescored.select("probe_id", "vec_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("probe_id", "rank", "vec_id", "cos")
    )


def pq_save(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    path: str,
    *,
    centroids: list[list[float]] | None = None,
) -> dict:
    """Persist a PQ index next to the corpus it encodes: codes as parquet
    (the narrow query-time relation), codebooks/centroids as a JSON
    manifest (tiny driver artifacts). The fit-once-per-index-build
    production shape: train + encode once, reload for every query batch.
    Returns the manifest dict."""
    import json
    import os

    encoded.write.mode("overwrite").parquet(os.path.join(path, "codes"))
    manifest = {
        "format": "pq-v1",
        "m": len(codebooks),
        "ksub": len(codebooks[0]),
        "dsub": len(codebooks[0][0]),
        "residual": centroids is not None,
        "codebooks": codebooks,
        "centroids": centroids,
    }
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "pq_manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def pq_load(spark, path: str):
    """-> (encoded DataFrame, codebooks, centroids|None). Inverse of
    pq_save; pass the three straight into pq_cosine_topk."""
    import json
    import os

    with open(os.path.join(path, "pq_manifest.json")) as f:
        manifest = json.load(f)
    if manifest.get("format") != "pq-v1":
        raise ValueError(f"not a pq-v1 manifest: {manifest.get('format')!r}")
    encoded = spark.read.parquet(os.path.join(path, "codes"))
    return encoded, manifest["codebooks"], manifest["centroids"]
