"""Approximate-nearest-neighbor search over embedding columns.

North-star operator set (BASELINE.json): brute-force cosine top-k as the
exact baseline, plus two scale paths — sign-LSH bucketing and IVF (inverted
file with k-means-style centroids) — all pure DataFrame ops.
"""

from __future__ import annotations

import weakref

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectorized import cosine_udf


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Broadcast the (small) query set against the corpus — one scan of the
    corpus, no corpus shuffle; per-partition partial top-k via window rank
    after a groupBy would shuffle k*|Q| rows only. This is the pattern that
    survives 100 TB: the corpus is never re-partitioned, and the ranked
    shuffle carries |Q| * corpus_partitions * k candidate rows, not the
    corpus. Scoring is one Arrow-batched einsum (cosine_udf), not the
    interpreted Catalyst fold.
    """
    from ..functions.vectorized import topk_cosine

    # delegate to the mapInPandas kernel that actually implements the
    # promised pattern: per-partition partial top-k inside the Arrow
    # batch, so only |Q| * partitions * k candidate rows reach the rank
    # window (a broadcast-join + window formulation computes the same
    # values but shuffles the full |corpus| x |Q| cross product)
    return topk_cosine(
        corpus,
        queries,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        query_id_col=query_id_col,
    )


def ivf_build(
    corpus: DataFrame,
    num_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 2,
):
    """IVF index: Lloyd-iterate spherical k-means centroids, assign each
    vector to its nearest centroid.

    Returns (assignments DataFrame, centroids numpy array). Centroids are
    metadata-scale (thousands of rows even at 100 TB) so they live on the
    driver and broadcast to executors; each Lloyd iteration is ONE corpus
    scan emitting per-partition partial sums (num_centroids × partitions
    tiny rows collected), never a corpus shuffle. Assignment is a GEMM per
    Arrow batch via mapInPandas.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    v = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv")).cache()
    # deterministic seed: the num_centroids rows with smallest hash(id)
    seed_rows = (
        v.withColumn("hk", F.hash(F.col("corpus_id")))
        .orderBy("hk", "corpus_id")
        .limit(num_centroids)
        .collect()
    )
    if not seed_rows:
        v.unpersist()
        raise ValueError("ivf_build: empty corpus (no vectors to index)")
    cents = np.vstack([np.asarray(r["cv"], dtype=np.float64) for r in seed_rows])
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches):
            C = bc.value
            sums = np.zeros_like(C)
            counts = np.zeros(C.shape[0], dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.vstack(pdf["cv"].to_numpy()).astype(np.float64)
                Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
                cid = np.argmax(Mn @ C.T, axis=1)
                np.add.at(sums, cid, M)
                np.add.at(counts, cid, 1)
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {"cid": nz, "s": list(sums[nz]), "n": counts[nz]}
            )

        rows = v.mapInPandas(partials, "cid int, s array<double>, n long").collect()
        sums = np.zeros_like(cents)
        counts = np.zeros(cents.shape[0], dtype=np.int64)
        for r in rows:
            sums[r["cid"]] += np.asarray(r["s"])
            counts[r["cid"]] += r["n"]
        keep = counts > 0
        cents[keep] = sums[keep] / counts[keep, None]
        cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        bc.destroy()  # consumed by the collect above; don't leak per-iter blocks

    bc = spark.sparkContext.broadcast(cents)

    def assign(batches):
        C = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.vstack(pdf["cv"].to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"corpus_id": pdf["corpus_id"], "cid": np.argmax(Mn @ C.T, axis=1)}
            )

    # materialize eagerly so the corpus cache (and the final broadcast)
    # can be released now instead of leaking for the session's lifetime;
    # callers always consume the full assignment table anyway
    id_t = dict(corpus.dtypes)[id_col]  # follow the caller's id type
    assignments = v.mapInPandas(
        assign, f"corpus_id {id_t}, cid int"
    ).localCheckpoint()
    v.unpersist()
    bc.destroy()
    return assignments, cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k via IVF: score only vectors in the query's ``nprobe``
    nearest centroid cells. At scale the assignments table is written
    partitioned by cid, so a probe reads nprobe/num_centroids of the data;
    here the cell restriction is a broadcast join on cid.
    """
    import numpy as np

    spark = corpus.sparkSession
    # empty query set: empty result, not a driver-side numpy crash
    qpdf = queries.select(query_id_col, vec_col).toPandas()
    qid_t = dict(queries.dtypes)[query_id_col]
    cid_t = dict(corpus.dtypes)[id_col]
    if len(qpdf) == 0:
        return spark.createDataFrame(
            [], f"query_id {qid_t}, corpus_id {cid_t}, cos double, rank int"
        )
    assignments, cents = ivf_build(corpus, num_centroids, vec_col, id_col)
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv")
    ).join(assignments, "corpus_id")
    # probe cells per query: computed on the (small, broadcast-bound) query
    # set driver-side — |Q| × num_centroids GEMM
    Q = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    order = np.argsort(-(Qn @ cents.T), axis=1)[:, :nprobe]
    probes = spark.createDataFrame(
        [
            (qpdf[query_id_col].iloc[i].item()
             if hasattr(qpdf[query_id_col].iloc[i], "item")
             else qpdf[query_id_col].iloc[i],
             [float(x) for x in Q[i]], int(cid))
            for i in range(len(qpdf))
            for cid in order[i]
        ],
        f"query_id {qid_t}, qv array<double>, cid int",
    )
    scored = c.join(F.broadcast(probes), "cid").withColumn(
        "cos", cosine_udf(F.col("cv"), F.col("qv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos", "rank")
    )


def ivf_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """``ivf_topk`` with engine-portable math so the ENTIRE IVF pipeline —
    centroid choice, cell assignment, probe selection, ranking — reproduces
    in a SQL oracle (q41's k-means build stays the numpy fast path).

    Portable construction: centroids are the ``num_centroids`` corpus
    vectors with the smallest md5-derived key (deterministic, seedless);
    assignment/probing take argmax of the quantized-integer cosine
    (dedup.quantized_cosine_udf — exact order-free int sums, numpy
    execution matches SQL bit-for-bit) rounded to 6 places with an id
    tiebreak — every comparison is reproducible across engines.

    Plan shape matches the fast path: the centroid table is metadata-scale
    and broadcast to both sides; the corpus is scanned once for assignment
    (at 100 TB the assignment would be written out partitioned by cid so a
    probe reads nprobe/num_centroids of the data); the only corpus-sized
    shuffle is the assignment argmax window (the fast path's mapInPandas
    GEMM avoids even that — this variant trades one shuffle for
    oracle-checkability).
    """
    from .dedup import quantize_q20, quantized_cosine_udf

    c = corpus.select(
        F.col(id_col).alias("corpus_id"), quantize_q20(F.col(vec_col)).alias("cv")
    )
    from ..functions.core import md5_60

    hk = md5_60(F.col("corpus_id").cast("string"))
    cents = (
        c.withColumn("hk", hk)
        .orderBy("hk", "corpus_id")
        .limit(num_centroids)
        .select(F.col("corpus_id").alias("cid"), F.col("cv").alias("centv"))
    )

    cent_cos = F.round(quantized_cosine_udf(F.col("cv"), F.col("centv")), 6)
    w_assign = Window.partitionBy("corpus_id").orderBy(F.desc("ccos"), F.asc("cid"))
    assign = (
        c.join(F.broadcast(cents))
        .withColumn("ccos", cent_cos)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("corpus_id", "cv", "cid")
    )

    q = queries.select(
        F.col(query_id_col).alias("query_id"), quantize_q20(F.col(vec_col)).alias("qv")
    )
    probe_cos = F.round(quantized_cosine_udf(F.col("qv"), F.col("centv")), 6)
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("cid"))
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("pcos", probe_cos)
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "cid")
    )

    scored = assign.join(F.broadcast(probes), "cid").withColumn(
        "cos", F.round(quantized_cosine_udf(F.col("cv"), F.col("qv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos", "rank")
    )


def lsh_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    num_planes: int = 8,
    max_hamming: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via sign-LSH: restrict scoring to corpus vectors
    whose SRP code is within ``max_hamming`` bits of the query's code, then
    exact-rank the candidates. Probe expansion (hamming ball) keeps recall
    high; candidates shrink the scan by ~2^planes/volume(ball).

    Engine-portable math: SRP codes from integer-quantized dots on ±1
    literal hyperplanes (see dedup.portable_srp_code) and quantized-integer
    cosine ranking (dedup.quantized_cosine_udf — exact order-free int sums,
    so the numpy execution matches SQL bit-for-bit), so the ENTIRE
    approximate pipeline — candidate ball and ranking — reproduces in a
    SQL oracle (q40, q53). Corpus never re-partitions, queries broadcast,
    one shuffle for the rank window. ``dim`` is the embedding width.
    """
    from .dedup import portable_srp_code, quantize_q20, quantized_cosine_udf

    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        quantize_q20(F.col(vec_col)).alias("cq"),
        portable_srp_code(F.col(vec_col), num_planes, dim).alias("ccode"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_q20(F.col(vec_col)).alias("qq"),
        portable_srp_code(F.col(vec_col), num_planes, dim).alias("qcode"),
    )
    joined = c.join(F.broadcast(q)).filter(
        F.bit_count(F.col("ccode").bitwiseXOR(F.col("qcode"))) <= max_hamming
    )
    scored = joined.withColumn(
        "cos", F.round(quantized_cosine_udf(F.col("cq"), F.col("qq")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos", "rank")
    )


IVF_META_FILE = "_ivf_meta.json"


def save_ivf_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 2,
) -> str:
    """Persist an IVF vector index as an on-disk artifact -- the ANN
    sibling of ``TrailDataset.build_index``: vectors land in parquet
    PARTITIONED BY their cell id, centroids (metadata-scale) in a JSON
    sidecar. A probe then reads ~nprobe/num_centroids of the FILES via
    Hive partition pruning instead of scanning the corpus and filtering
    -- the layout IS the index, same philosophy as ``finalize``. This is
    the concrete 100 TB deployment form of ``ivf_topk``'s cell
    restriction (which joins in-memory assignments per query run).
    Returns ``path``. The cells are ``data/`` of the
    :func:`fsutil.load_artifact` protocol: a probe against rewritten
    cells with the old centroids would route to wrong cells.
    """
    from .. import fsutil

    assignments, cents = ivf_build(corpus, num_centroids, vec_col, id_col, iters)
    data = (
        corpus.select(
            F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv")
        )
        .join(assignments, "corpus_id")
        .repartition("cid")
    )
    data.write.mode("overwrite").partitionBy("cid").parquet(f"{path}/data")
    fsutil.commit_artifact(
        corpus.sparkSession, path, IVF_META_FILE, ("data",),
        {
            "num_centroids": int(cents.shape[0]),
            "dim": int(cents.shape[1]),
            "id_type": dict(corpus.dtypes)[id_col],
            "centroids": [[float(x) for x in row] for row in cents],
        },
    )
    return path


def ivf_topk_prebuilt(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k against a :func:`save_ivf_index` artifact: probe cells
    are chosen driver-side from the sidecar centroids (|Q| x cells GEMM
    on metadata), and the scan carries ``cid IN (probes)`` so Hive
    partition pruning reads only the probed cells' files -- provably in
    the plan (PartitionFilters), not just by intent. Exact cosine +
    per-query rank over the probed cells, identical semantics to
    ``ivf_topk`` given the same centroids.

    Refuses a stale artifact (:func:`fsutil.load_artifact`): unlike the
    z-index, which falls back to the primary scan, there is no primary
    here to fall back to.
    """
    import numpy as np

    from .. import fsutil

    meta, live = fsutil.load_artifact(
        spark, path, IVF_META_FILE, ("data",), "save_ivf_index")
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    qpdf = queries.select(query_id_col, vec_col).toPandas()
    qid_t = dict(queries.dtypes)[query_id_col]
    if len(qpdf) == 0:
        return spark.createDataFrame(
            [], f"query_id {qid_t}, corpus_id {meta['id_type']}, cos double, rank int"
        )
    Q = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    order = np.argsort(-(Qn @ cents.T), axis=1)[:, :nprobe]
    probes = spark.createDataFrame(
        [
            (
                qpdf[query_id_col].iloc[i].item()
                if hasattr(qpdf[query_id_col].iloc[i], "item")
                else qpdf[query_id_col].iloc[i],
                [float(x) for x in Q[i]],
                int(cid),
            )
            for i in range(len(qpdf))
            for cid in order[i]
        ],
        f"query_id {qid_t}, qv array<double>, cid int",
    )
    data = spark.read.parquet(live["data"])
    # the IN-list on the PARTITION column is what prunes files; the join
    # then matches each probed cell to its queries
    wanted = sorted({int(c) for row in order for c in row})
    pruned = data.filter(F.col("cid").isin(wanted))
    scored = pruned.join(F.broadcast(probes), "cid").withColumn(
        "cos", cosine_udf(F.col("cv"), F.col("qv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos", "rank")
    )


def embedding_gram(
    df: DataFrame,
    vec_col: str = "embedding",
    q_scale_bits: int = 10,
) -> DataFrame:
    """Distributed second-moment (Gram) statistics of an embedding
    column — the covariance/whitening input for PCA projection, SemDeDup
    preprocessing, or embedding-drift monitoring, computed the
    treeAggregate way but EXPRESSED as DataFrame ops so Catalyst/AQE own
    the physical plan.

    Vectors are quantized to integers (``floor(v * 2^q_scale_bits)`` —
    power-of-two scale, IEEE-exact multiply, unambiguous floor: the
    engine-portable discipline of :func:`~..operators.dedup.quantize_q20`),
    then every Arrow batch is collapsed to ONE d x d int64 matmul
    (``Q.T @ Q``) plus per-dimension sums; only the d(d+1)/2
    upper-triangle partials ever leave the executor. The final
    ``groupBy(i, j).sum`` shuffles ``triangle x batches`` rows —
    metadata-scale at 100 TB regardless of row count (a posexplode +
    self-join formulation would shuffle ``rows x d^2``). Integer sums
    mean NO float summation order anywhere: the result is bit-identical
    across engines and partitionings, and fully oracle-checkable.

    Returns one row per (i <= j) dimension pair::

        i, j        0-based dimension indices
        n_vecs      total vectors
        sum_i/sum_j exact quantized per-dimension sums
        sum_prod    exact sum of quantized products
        cov_q       round((sum_prod*n - sum_i*sum_j) / n^2, 6) — the
                    sample covariance of the QUANTIZED values: numerator
                    exact int64, one IEEE division, one half-up round —
                    engine-portable (divide by 2^(2*q_scale_bits) to
                    de-scale)

    Overflow bounds (int64): for unit-normalized embeddings |q| <=
    2^q_scale_bits, so sum_prod <= n * 2^(2*bits) — exact up to n ~ 2^43
    rows at the default Q10. cov_q's numerator sum_prod*n stays inside
    the 2^53 double-exact window up to n ~ 2^16 at Q10 for the float
    division; beyond that, consume the exact integer columns instead.

    Reference analog: none (TrailDB has no vector surface); this extends
    the SS2 LLM-pipeline operator family alongside semantic dedup
    (`dedup.semantic_dedup`) and ANN (`similarity.ivf_topk`).
    """
    import numpy as np
    import pandas as pd

    if not (1 <= q_scale_bits <= 20):
        raise ValueError(
            f"embedding_gram: q_scale_bits must be in [1, 20], got {q_scale_bits}"
        )
    scale = float(1 << q_scale_bits)

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(V * scale).astype(np.int64)
            G = Q.T @ Q
            S = Q.sum(axis=0)
            iu, ju = np.triu_indices(Q.shape[1])
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "n": np.int64(len(pdf)),
                    "sum_i": S[iu],
                    "sum_j": S[ju],
                    "sum_prod": G[iu, ju],
                }
            )

    part = df.select(vec_col).mapInPandas(
        partials,
        schema="i int, j int, n long, sum_i long, sum_j long, sum_prod long",
    )
    agg = part.groupBy("i", "j").agg(
        F.sum("n").alias("n_vecs"),
        F.sum("sum_i").alias("sum_i"),
        F.sum("sum_j").alias("sum_j"),
        F.sum("sum_prod").alias("sum_prod"),
    )
    num = F.col("sum_prod") * F.col("n_vecs") - F.col("sum_i") * F.col("sum_j")
    return agg.select(
        "i",
        "j",
        "n_vecs",
        "sum_i",
        "sum_j",
        "sum_prod",
        F.round(
            num.cast("double")
            / (F.col("n_vecs") * F.col("n_vecs")).cast("double"),
            6,
        ).alias("cov_q"),
    )


def pca_project(
    df: DataFrame,
    n_components: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_scale_bits: int = 10,
) -> DataFrame:
    """PCA projection of an embedding column: reduce to the top
    ``n_components`` principal directions — the whitening/compression
    step before SemDeDup clustering or a cheaper ANN index. Two-phase by
    construction:

    1. second-moment statistics via :func:`embedding_gram` (the
       integer-exact, partitioning-invariant treeAggregate — the ONLY
       pass over the data that aggregates), collected as ONE d x d
       matrix (metadata-scale, the `semantic_dedup` centroid policy);
    2. driver-side symmetric eigendecomposition of the covariance
       (numpy ``eigh``, d x d), then one Arrow-batched pass ships the
       d x c component matrix inside the closure and projects every
       QUANTIZED vector (the data the covariance described) with
       batch-shape-independent reductions — zero shuffles, and the
       output is bit-identical under any partitioning (tested).

    Eigenvector SIGN is normalized (largest-|coordinate| component
    positive, ties to the earlier dimension) so output is deterministic
    across LAPACK builds up to that convention. Floats are inherent to
    eigendecomposition — this operator is test-verified (variance
    ordering, orthogonality, reconstruction-error monotonicity, gram
    round-trip) rather than SQL-oracled, like `learn_bpe` and
    `attribution_markov`.

    Returns ``(id, proj)`` with ``proj`` an ``array<double>`` of length
    ``n_components``, components ordered by descending eigenvalue
    (ties: ascending component index from eigh's ascending order).
    """
    import numpy as np
    import pandas as pd

    if n_components < 1:
        raise ValueError(
            f"pca_project: n_components must be >= 1, got {n_components}"
        )
    gram = embedding_gram(df, vec_col=vec_col, q_scale_bits=q_scale_bits)
    rows = gram.collect()  # d(d+1)/2 rows — metadata-scale
    if not rows:
        raise ValueError("pca_project: empty input")
    d = max(r["j"] for r in rows) + 1
    if n_components > d:
        raise ValueError(
            f"pca_project: n_components={n_components} exceeds dim {d}"
        )
    n = rows[0]["n_vecs"]
    scale = float(1 << q_scale_bits)
    cov = np.zeros((d, d))
    mean_q = np.zeros(d)
    for r in rows:
        c = (r["sum_prod"] * n - r["sum_i"] * r["sum_j"]) / (n * n)
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = c
        if r["i"] == r["j"]:
            mean_q[r["i"]] = r["sum_i"] / n
    cov /= scale * scale
    mean = mean_q / scale
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-vals, kind="stable")[:n_components]
    comps = vecs[:, order]  # d x c
    # deterministic sign: make the largest-|coord| entry positive
    flips = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(comps.shape[1])])
    flips[flips == 0] = 1.0
    comps = comps * flips
    comps_b = comps.copy()
    mean_b = mean.copy()

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            # project the QUANTIZED vectors (the data the covariance
            # actually described), and reduce per component with
            # np.sum's pairwise order — fixed by the 64-long axis, NOT
            # by batch shape (BLAS gemm blocking varies with row count,
            # which would break bit-identical partitioning invariance)
            Vq = np.floor(V * scale) / scale - mean_b
            P = np.empty((len(Vq), comps_b.shape[1]))
            for j in range(comps_b.shape[1]):
                P[:, j] = (Vq * comps_b[:, j]).sum(axis=1)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "proj": list(P)}
            )

    id_t = dict(df.dtypes)[id_col]
    return df.select(id_col, vec_col).mapInPandas(
        project, schema=f"id {id_t}, proj array<double>"
    )


def embedding_outliers(
    df: DataFrame,
    max_dist: float = 1.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_scale_bits: int = 10,
) -> DataFrame:
    """Centroid-distance outlier detection over an embedding column —
    the "drop the garbage vectors before they poison clustering/ANN"
    gate, exact end to end: with quantized vectors q and per-dimension
    sums S (n vectors), the squared distance to the centroid obeys::

        n² · ||q - S/n||²  =  n²·Σq² - 2n·(q·S) + ΣS²      (all int64)

    so the flag ``dist > max_dist`` evaluates as the INTEGER lattice
    comparison ``D > n² · floor((max_dist·2^bits)²)`` — bit-identical
    across engines, no float accumulation. Returns every vector with
    ``(id, d2_lattice, is_outlier)``; rank by ``d2_lattice`` for a
    top-k form, or feed it to `analytics.histogram_percentiles` for a
    data-derived radius.

    Two passes: per-dimension sums via :func:`embedding_gram`'s
    diagonal (metadata-scale collect — the centroid policy), then one
    Arrow-batched pass computing the lattice per vector with integer
    matvec (batch-shape-independent by construction: integer sums).
    Overflow: |q| ≤ 2^bits, so D ≤ n²·d·2^(2·bits) — int64-exact to
    n ~ 6e5 at Q10/d=64; the assert raises rather than wraps.
    """
    import numpy as np
    import pandas as pd

    if max_dist <= 0:
        raise ValueError(
            f"embedding_outliers: max_dist must be > 0, got {max_dist}"
        )
    gram = embedding_gram(df, vec_col=vec_col, q_scale_bits=q_scale_bits)
    diag = gram.filter(F.col("i") == F.col("j")).collect()
    if not diag:
        raise ValueError("embedding_outliers: empty input")
    d = max(r["i"] for r in diag) + 1
    n = diag[0]["n_vecs"]
    S = np.zeros(d, dtype=np.int64)
    for r in diag:
        S[r["i"]] = r["sum_i"]
    ss = int((S.astype(object) ** 2).sum())  # exact python ints
    scale = 1 << q_scale_bits
    t_lattice = int(n) * int(n) * int(
        np.floor((max_dist * scale) ** 2)
    )
    if (
        int(n) * int(n) * d * (1 << (2 * q_scale_bits + 2)) > 2**63 - 1
    ):
        raise ValueError(
            "embedding_outliers: the distance lattice would overflow "
            f"int64 at n={n}, d={d}, q_scale_bits={q_scale_bits} — "
            "reduce q_scale_bits or pre-partition the corpus"
        )
    S_b, n_b, ss_b = S.copy(), int(n), ss

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(V * scale).astype(np.int64)
            D = (
                n_b * n_b * (Q * Q).sum(axis=1)
                - 2 * n_b * (Q * S_b).sum(axis=1)
                + ss_b
            )
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(), "d2_lattice": D})

    id_t = dict(df.dtypes)[id_col]
    scored = df.select(id_col, vec_col).mapInPandas(
        score, schema=f"id {id_t}, d2_lattice long"
    )
    return scored.select(
        "id",
        "d2_lattice",
        (F.col("d2_lattice") > F.lit(t_lattice)).alias("is_outlier"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    label_col: str = "label",
    max_labels: int = 1000,
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor (query vector
    with a label), its top-k most-similar corpus vectors carrying a
    DIFFERENT label — the highest-loss negatives a contrastive /
    metric-learning batch wants, as an exact deterministic operator.
    An anchor is excluded from its own candidates by the label rule.

    Implementation: one :func:`brute_force_topk` pass per distinct
    anchor label against the corpus with that label filtered out — the
    label set is lexicon-sized (guarded by ``max_labels``), so the plan
    is a UNION of ≤ |labels| broadcast-query scans, each inheriting the
    kernel's 100 TB posture (corpus never reshuffles; only
    |Q|·partitions·k candidates rank). Returns ``(query_id, corpus_id,
    cos, rank, query_label, corpus_label)``.
    """
    if k < 1:
        raise ValueError(f"hard_negatives: k must be >= 1, got {k}")
    labels = [
        r["l"] for r in queries.select(F.col(label_col).alias("l")).distinct().collect()
    ]
    if len(labels) > max_labels:
        raise ValueError(
            f"hard_negatives: {len(labels)} anchor labels exceeds "
            f"max_labels={max_labels}"
        )
    out = None
    lab = F.broadcast(
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            F.col(label_col).alias("corpus_label"),
        )
    )
    for l_value in sorted(labels, key=lambda v: (v is None, v)):
        q_l = queries.filter(F.col(label_col).eqNullSafe(F.lit(l_value))).select(
            F.col(query_id_col).alias(query_id_col), vec_col
        )
        c_l = corpus.filter(~F.col(label_col).eqNullSafe(F.lit(l_value)))
        part = brute_force_topk(
            c_l, q_l, k=k, vec_col=vec_col, id_col=id_col,
            query_id_col=query_id_col,
        ).withColumn("query_label", F.lit(l_value))
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("hard_negatives: queries table has no rows")
    return out.join(lab, "corpus_id").select(
        query_id_col, "corpus_id", "cos", "rank", "query_label", "corpus_label"
    )


def label_separability(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    q_scale_bits: int = 10,
) -> DataFrame:
    """Per-label cluster-quality report over an embedding column — the
    "is this labeled data actually separable before I train on it"
    audit: for every label, the within-class scatter and the distance
    of the label centroid to the global centroid, plus a Fisher-style
    between/within ratio. Exact end to end on the Q-lattice
    (``floor(v·2^bits)``, :func:`embedding_gram`'s discipline), so the
    report is bit-identical across engines and partitionings::

        W_l     = n_l·T_l − Σ_d S_ld²          (n_l²·mean within-dist²)
        B_l     = Σ_d (N·S_ld − n_l·S_d)²      (n_l²·N²·centroid-dist²)
        fisher  = B_l·10^6 // (N²·W_l)          (between/within, ppm)

    with S_ld the per-label per-dimension quantized sums, T_l the
    per-label Σq², S_d the global sums, all exact integers. NULL labels
    are excluded; ``fisher_ppm`` is NULL when W_l = 0 (all of a label's
    vectors quantize identically — nothing to normalize by).

    Plan shape: one Arrow pass collapses each batch to label×d partial
    sums (one int64 matmul-free ``np.add.at`` fold per batch); the
    groupBy shuffles ``labels × d × batches`` rows — metadata-scale at
    any corpus size. The final scatter algebra runs on the driver over
    the labels×d table in arbitrary-precision Python ints (the same
    centroid-policy collect as :func:`embedding_outliers`), with an
    explicit decimal(38,0) overflow guard.

    Returns one row per label:
    ``(label, n_vecs, within_lattice, between_num, fisher_ppm)``.
    """
    import numpy as np
    import pandas as pd

    if not (1 <= q_scale_bits <= 20):
        raise ValueError(
            f"label_separability: q_scale_bits must be in [1, 20], "
            f"got {q_scale_bits}"
        )
    scale = float(1 << q_scale_bits)
    base = df.filter(F.col(label_col).isNotNull()).select(
        F.col(label_col).cast("long").alias("lab"), F.col(vec_col).alias("v")
    )

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            Q = np.floor(V * scale).astype(np.int64)
            labs = pdf["lab"].to_numpy()
            uniq, inv = np.unique(labs, return_inverse=True)
            d = Q.shape[1]
            S = np.zeros((len(uniq), d), dtype=np.int64)
            np.add.at(S, inv, Q)
            n = np.bincount(inv).astype(np.int64)
            t = np.zeros(len(uniq), dtype=np.int64)
            np.add.at(t, inv, (Q * Q).sum(axis=1))
            li = np.repeat(np.arange(len(uniq)), d)
            di = np.tile(np.arange(d), len(uniq))
            yield pd.DataFrame(
                {
                    "lab": uniq[li],
                    "di": di.astype(np.int32),
                    "s": S[li, di],
                    # n and t ride dim 0 only, so the (lab, di) sum
                    # reconstructs them without double counting
                    "n": np.where(di == 0, n[li], 0),
                    "t": np.where(di == 0, t[li], 0),
                }
            )

    agg = (
        base.mapInPandas(
            partials, schema="lab long, di int, s long, n long, t long"
        )
        .groupBy("lab", "di")
        .agg(
            F.sum("s").alias("s"),
            F.sum("n").alias("n"),
            F.sum("t").alias("t"),
        )
    )
    rows = agg.collect()  # labels × d — metadata-scale
    if not rows:
        raise ValueError("label_separability: no labeled vectors")
    per: dict = {}
    for r in rows:
        e = per.setdefault(int(r["lab"]), {"s": {}, "n": 0, "t": 0})
        e["s"][int(r["di"])] = int(r["s"])
        e["n"] += int(r["n"])
        e["t"] += int(r["t"])
    dims = sorted(next(iter(per.values()))["s"])
    N = sum(e["n"] for e in per.values())
    Sg = {d_: sum(e["s"][d_] for e in per.values()) for d_ in dims}
    out = []
    lim = 10**38
    for lab in sorted(per):
        e = per[lab]
        n_l = e["n"]
        W = n_l * e["t"] - sum(v * v for v in e["s"].values())
        B = sum(
            (N * e["s"][d_] - n_l * Sg[d_]) ** 2 for d_ in dims
        )
        if W >= lim or B >= lim:
            raise ValueError(
                "label_separability: scatter exceeds decimal(38,0) — "
                "reduce q_scale_bits"
            )
        fisher = (B * 10**6) // (N * N * W) if W > 0 else None
        from decimal import Decimal

        out.append((lab, n_l, Decimal(W), Decimal(B), fisher))
    return df.sparkSession.createDataFrame(
        out,
        "label long, n_vecs long, within_lattice decimal(38,0), "
        "between_num decimal(38,0), fisher_ppm long",
    )


def kcenter_select(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1 << 20,
    max_k: int = 64,
) -> DataFrame:
    """Diverse-subset selection by greedy k-center (farthest-point
    traversal) over an embedding column — the coverage-sampling pass a
    training-data pipeline runs to seed clusters / pick exemplars:
    start from the smallest id, then repeatedly take the point whose
    distance to the chosen set is LARGEST (the classic 2-approximation
    to the k-center objective). Bit-portable by construction: vectors
    are quantized to integers ``floor(v·2^20)`` (the q52 portable-math
    rule — float→double is exact, scaling by a power of two is exact,
    floor is exact) and all distances are exact integer ΣΔ², with ties
    broken to the smallest id, so any engine picks the identical set.

    Scale posture: k passes over the corpus, each computing the min
    distance to ≤ k broadcast-literal centers (k·dim multiply-adds per
    row, JVM-side zip_with — no shuffle, no crossJoin); the argmax is
    a 1-row sort-limit. ``max_k`` refuses selections that would make
    the per-row expression k·dim-huge.

    Returns ``(rank, vec_id, maximin_dist2)`` — rank 1..k in selection
    order; rank 1's distance is 0 by convention.
    """
    if k < 1:
        raise ValueError(f"kcenter_select: k must be >= 1, got {k}")
    if k > max_k:
        raise ValueError(
            f"kcenter_select: k={k} exceeds max_k={max_k} (per-row "
            "expression grows with k·dim; raise max_k deliberately)"
        )
    qe = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(scale)))
            .cast("long"),
        ).alias("q"),
    ).persist()
    try:
        first = qe.agg(F.min("id")).collect()[0][0]
        if first is None:
            raise ValueError("kcenter_select: empty input")
        sel_rows = qe.filter(F.col("id") == first).collect()
        picked = [(1, first, 0)]
        sel_vecs = [list(sel_rows[0]["q"])]
        sel_ids = [first]
        for rank in range(2, k + 1):
            dists = [
                F.aggregate(
                    F.zip_with(
                        F.col("q"),
                        F.array(*[F.lit(v) for v in sv]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                for sv in sel_vecs
            ]
            dmin = dists[0] if len(dists) == 1 else F.least(*dists)
            row = (
                qe.filter(~F.col("id").isin(sel_ids))
                .select("id", dmin.alias("dmin"), "q")
                .orderBy(F.desc("dmin"), F.asc("id"))
                .limit(1)
                .collect()
            )
            if not row:
                break  # fewer than k points
            picked.append((rank, row[0]["id"], int(row[0]["dmin"])))
            sel_vecs.append(list(row[0]["q"]))
            sel_ids.append(row[0]["id"])
    finally:
        qe.unpersist()
    return df.sparkSession.createDataFrame(
        picked, "rank int, vec_id long, maximin_dist2 long"
    )


def mmr_select(
    df: DataFrame,
    query_id: int,
    k: int = 5,
    lambda_pct: int = 70,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1 << 20,
    max_k: int = 64,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) top-k:
    retrieval that trades relevance against redundancy — each round
    picks the candidate maximizing ``λ·rel(q, c) − (1−λ)·max_{s∈S}
    sim(c, s)``, so near-duplicates of already-selected results lose to
    fresh ones. Bit-portable like :func:`kcenter_select`: dots on the
    floor(v·2^20) integer lattice, λ as an integer percentage
    (``score100 = lambda_pct·rel − (100−lambda_pct)·maxsim``, the
    max-sim term 0 for the first pick), ties to the smallest id.

    Scale posture: identical to kcenter_select — k passes, each a
    narrow zip_with against ≤ k broadcast-literal vectors, a 1-row
    sort-limit per round, no shuffle; ``max_k`` refusal.

    Returns ``(rank, vec_id, score100)``.
    """
    if k < 1:
        raise ValueError(f"mmr_select: k must be >= 1, got {k}")
    if k > max_k:
        raise ValueError(f"mmr_select: k={k} exceeds max_k={max_k}")
    if not 0 <= lambda_pct <= 100:
        raise ValueError(
            f"mmr_select: lambda_pct in [0, 100], got {lambda_pct}"
        )
    qe = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(scale)))
            .cast("long"),
        ).alias("q"),
    ).persist()

    def dot_to(vec: list[int]):
        return F.aggregate(
            F.zip_with(
                F.col("q"),
                F.array(*[F.lit(v) for v in vec]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    try:
        qrow = qe.filter(F.col("id") == query_id).collect()
        if not qrow:
            raise ValueError(f"mmr_select: query id {query_id} not found")
        qvec = list(qrow[0]["q"])
        cand = qe.filter(F.col("id") != query_id).withColumn(
            "rel", dot_to(qvec)
        )
        lam = int(lambda_pct)
        picked: list[tuple[int, int, int]] = []
        sel_vecs: list[list[int]] = []
        sel_ids: list[int] = []
        for rank in range(1, k + 1):
            if sel_vecs:
                sims = [dot_to(sv) for sv in sel_vecs]
                maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            else:
                maxsim = F.lit(0).cast("long")
            score = (
                F.lit(lam) * F.col("rel") - F.lit(100 - lam) * maxsim
            )
            row = (
                cand.filter(~F.col("id").isin(sel_ids))
                .select("id", "q", score.alias("score100"))
                .orderBy(F.desc("score100"), F.asc("id"))
                .limit(1)
                .collect()
            )
            if not row:
                break
            picked.append((rank, row[0]["id"], int(row[0]["score100"])))
            sel_vecs.append(list(row[0]["q"]))
            sel_ids.append(row[0]["id"])
    finally:
        qe.unpersist()
    return df.sparkSession.createDataFrame(
        picked, "rank int, vec_id long, score100 long"
    )


def _sq8_calibrate(corpus: DataFrame, vec_col: str, dim: int,
                   who: str) -> tuple[list, list]:
    """Per-dimension [lo, hi] grid over the corpus in ONE aggregation
    pass (metadata-scale output: 2*dim doubles). The width check rides
    the same aggregate (zero extra jobs) so a corpus of any other
    vector width fails loudly instead of silently producing null lo/hi
    and all-null codes; F.get (null on out-of-bounds, unlike []) lets a
    too-narrow corpus reach the szmin/szmax check."""
    dims = corpus.select(F.col(vec_col).alias("v")).agg(
        F.min(F.size("v")).alias("szmin"),
        F.max(F.size("v")).alias("szmax"),
        *[F.min(F.get("v", i).cast("double")).alias(f"lo{i}")
          for i in range(dim)],
        *[F.max(F.get("v", i).cast("double")).alias(f"hi{i}")
          for i in range(dim)],
    ).collect()[0]
    if dims["szmin"] != dim or dims["szmax"] != dim:
        raise ValueError(
            f"{who}: corpus {vec_col!r} widths span "
            f"[{dims['szmin']}, {dims['szmax']}] but dim={dim} — pass "
            "dim= matching the embedding width"
        )
    lo = [float(dims[f"lo{i}"]) for i in range(dim)]
    hi = [float(dims[f"hi{i}"]) for i in range(dim)]
    return lo, hi


def _sq8_expr(col, lo_arr, hi_arr):
    """code_d = clamp(floor((v_d - lo_d) * 255 / (hi_d - lo_d)), 0, 255)
    — identical expression order in the oracle SQL so the doubles
    agree. Constant dimension (hi == lo) → code 0: the grid is
    degenerate there and the NaN a 0/0 would produce must never reach
    the codes."""
    return F.transform(
        col.cast("array<double>"),
        lambda x, i: F.when(
            F.element_at(hi_arr, i + 1) == F.element_at(lo_arr, i + 1),
            F.lit(0).cast("long"),
        ).otherwise(
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(255).cast("long"),
                    F.floor(
                        (x - F.element_at(lo_arr, i + 1))
                        * F.lit(255.0)
                        / (F.element_at(hi_arr, i + 1)
                           - F.element_at(lo_arr, i + 1))
                    ).cast("long"),
                ),
            )
        ),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """ANN top-k over SCALAR-QUANTIZED (int8-grid) vectors: the memory-
    compression scale path that complements LSH (q40/q53) and IVF
    (q41/q54).

    Production vector stores (FAISS SQ8, Milvus, pgvector halfvec) scan a
    0..255-quantized copy of the corpus — 4x smaller than float32, so 4x
    more of a 100 TB corpus fits in page cache — then re-rank the survivors
    against full precision. Shape here is the same two stages:

      1. CALIBRATE: one aggregation pass computes the per-dimension
         [lo, hi] grid over the corpus (128 tiny JVM-side aggregates, one
         row out — metadata-scale, broadcast back as literals).
      2. SCAN: quantize corpus + queries onto the grid with
         ``F.transform`` (whole-stage codegen, no Python), rank candidates
         per query by the exact INTEGER dot product of the quantized
         codes, keep ``rerank`` per query — only |Q|*rerank rows survive.
      3. RERANK: exact cosine on the floor(v*2^20) lattice (the portable
         cosine every other similarity op uses) over the survivors.

    The corpus is scanned once, never shuffled; the ranked shuffle carries
    |Q| * partitions * rerank candidate rows. Every arithmetic step is
    IEEE-double-then-floor or integer, so the DuckDB oracle (q246)
    reproduces candidates AND final ranks bit-for-bit.
    """
    from .dedup import quantize_q20, quantized_cosine_udf

    lo, hi = _sq8_calibrate(corpus, vec_col, dim, "sq8_topk")
    lo_arr = F.array(*[F.lit(x) for x in lo])
    hi_arr = F.array(*[F.lit(x) for x in hi])

    def sq8(col):
        return _sq8_expr(col, lo_arr, hi_arr)

    code_norm2 = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        quantize_q20(F.col(vec_col)).alias("cv20"),
        sq8(F.col(vec_col)).alias("cq"),
    ).withColumn("n2c", code_norm2(F.col("cq")))
    # same width guard for the query side, folded into the projection
    # (assert_true returns NULL when valid — zero extra jobs)
    q_guard = F.assert_true(
        F.size(F.col(vec_col)) == dim,
        f"sq8_topk: query {vec_col} width != dim={dim}",
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_q20(F.col(vec_col)).alias("qv20"),
        F.when(q_guard.isNull(), sq8(F.col(vec_col))).alias("qq"),
    ).withColumn("n2q", code_norm2(F.col("qq")))
    # exact int64 dot in an Arrow batch (order-free integer sums, so the
    # numpy execution is engine-portable); the Catalyst zip_with+aggregate
    # fold computes the same values but interprets 64 ops per row
    @F.pandas_udf("long")
    def int_dot_udf(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        X = np.vstack(xs.to_numpy()).astype(np.int64)
        Y = np.vstack(ys.to_numpy()).astype(np.int64)
        return pd.Series((X * Y).sum(axis=1))

    int_dot = int_dot_udf(F.col("cq"), F.col("qq"))
    # candidate metric = cosine in CODE space (micro, sign-factored
    # integer division so Spark's truncating div == DuckDB's floor on
    # negatives): raw code dots favor large-norm vectors and can crowd
    # the true neighbor out of the rerank set; code-space cosine is
    # maximal for identical codes, so exact matches always survive.
    den = F.floor(
        F.sqrt((F.col("n2c") * F.col("n2q")).cast("double"))
    ).cast("long")
    acs = F.when(
        (F.col("n2c") > 0) & (F.col("n2q") > 0),
        F.when(
            F.col("int_dot") >= 0,
            F.expr("(1000000 * int_dot) div __den"),
        ).otherwise(-F.expr("(1000000 * -int_dot) div __den")),
    )
    cand_w = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("approx_cos_micro"), F.asc("corpus_id")
    )
    cands = (
        c.join(F.broadcast(q))
        .withColumn("int_dot", int_dot)
        .withColumn("__den", den)
        .withColumn("approx_cos_micro", acs)
        .withColumn("crank", F.row_number().over(cand_w))
        .filter(F.col("crank") <= rerank)
    )
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("corpus_id")
    )
    return (
        cands.withColumn(
            "cos", F.round(quantized_cosine_udf(F.col("cv20"), F.col("qv20")), 6)
        )
        .withColumn("rank", F.row_number().over(rerank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "approx_cos_micro", "cos", "rank")
    )


SQ8_META_FILE = "_sq8_meta.json"
_CODE_SUBS = ("codes", "full")


def save_sq8_index(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> str:
    """Persist the SQ8 compressed-scan artifact — the production form of
    :func:`sq8_topk`, which recalibrates and re-encodes the corpus per
    run (fine for one-off queries, wasteful for a served index at
    100 TB). Layout:

    - ``codes/``: parquet ``(corpus_id, code BINARY(dim), n2 LONG)`` —
      genuinely 1 byte/dimension (4× under float32, 8× under the q20
      lattice), the only thing a probe's candidate stage scans.
    - ``full/``: parquet ``(corpus_id, cv20)`` RANGE-SORTED by
      corpus_id, so the probe's rerank — a bounded |Q|·rerank IN-list
      pushed into the scan — reads only the row groups holding the
      survivors instead of the corpus.
    - sidecar JSON: the calibration grid (per-dim lo/hi), dim, id type
      and ``kind``, under the :func:`fsutil.load_artifact` protocol.

    Codes are computed ONCE here with the exact :func:`sq8_topk`
    expressions, so a probe returns bit-identical candidates and ranks
    to the direct run on the same corpus.
    """
    from .dedup import quantize_q20

    spark = corpus.sparkSession
    lo, hi = _sq8_calibrate(corpus, vec_col, dim, "save_sq8_index")
    lo_arr = F.array(*[F.lit(x) for x in lo])
    hi_arr = F.array(*[F.lit(x) for x in hi])

    coded = corpus.select(
        F.col(id_col).alias("corpus_id"),
        _sq8_expr(F.col(vec_col), lo_arr, hi_arr).alias("__cq"),
        quantize_q20(F.col(vec_col)).alias("cv20"),
    )
    _write_code_artifact(
        spark, coded, path,
        {"kind": "sq8", "dim": dim, "lo": lo, "hi": hi,
         "id_type": dict(corpus.dtypes)[id_col]},
        parts=max(corpus.rdd.getNumPartitions(), 1),
    )
    return path


def _pack_codes(col: Column) -> Column:
    """array<long 0..255> → BINARY, one byte per dimension."""

    @F.pandas_udf("binary")
    def pack(cs: pd.Series) -> pd.Series:
        if len(cs) == 0:
            return pd.Series(np.empty(0, dtype=object))
        arr = np.vstack(cs.to_numpy()).astype(np.uint8)
        return pd.Series([arr[i].tobytes() for i in range(arr.shape[0])])

    return pack(col)


def _coded_tables(coded: DataFrame, parts: int):
    """(codes, full) projections of a ``coded`` frame carrying
    (corpus_id, __cq array<long 0..255>, cv20) — shared between the
    full build and the append path so both write byte-compatible files:
    codes = packed 1-byte-per-dim BINARY + norm; full = q20 lattice
    range-sorted by corpus_id (tight per-row-group min/max stats, the
    probe's point-read side)."""
    code_norm2 = F.aggregate(
        F.transform(F.col("__cq"), lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    codes = coded.select(
        "corpus_id",
        _pack_codes(F.col("__cq")).alias("code"),
        code_norm2.alias("n2"),
    )
    return codes, _range_sorted(coded.select("corpus_id", "cv20"), parts)


def _range_sorted(df: DataFrame, parts: int) -> DataFrame:
    """``parts`` files, each one contiguous corpus_id range, sorted."""
    return (df.repartitionByRange(parts, "corpus_id")
            .sortWithinPartitions("corpus_id"))


def _write_code_artifact(spark, coded: DataFrame, path: str, meta: dict,
                         parts: int, live: dict | None = None) -> None:
    """Shared artifact writer for the compressed-scan ANN family:
    ``coded`` carries (corpus_id, __cq array<long 0..255>, cv20).
    codes/ = packed 1-byte-per-dim BINARY + norm; full/ = q20 lattice
    range-sorted by corpus_id (the probe's point-read side); sidecar =
    calibration meta, committed last. With ``live`` (the dirs of a
    loaded artifact) the rows are appended instead of written fresh."""
    from .. import fsutil

    codes, full = _coded_tables(coded, parts)
    mode = "overwrite" if live is None else "append"
    if live is None:
        live = {sub: f"{path}/{sub}" for sub in _CODE_SUBS}
    else:
        meta["appends"] = int(meta.get("appends", 0)) + 1
    codes.write.mode(mode).parquet(live["codes"])
    full.write.mode(mode).parquet(live["full"])
    fsutil.commit_artifact(spark, path, SQ8_META_FILE, _CODE_SUBS, meta)


def _load_code_index(spark, path: str,
                     kind: str) -> tuple[dict, dict[str, str]]:
    from .. import fsutil

    return fsutil.load_artifact(spark, path, SQ8_META_FILE, _CODE_SUBS,
                                f"save_{kind}_index", kinds=(kind,))


def _check_grid_envelope(dlo: list, dhi: list, lo: list, hi: list,
                         who: str) -> None:
    """Refuse a delta whose values fall outside the FROZEN calibration
    grid: out-of-grid values CLAMP under ``_sq8_expr``, silently
    degrading candidate quality — the grid-drift bound is zero by
    policy, and crossing it means a recalibrating rebuild."""
    bad = [i for i in range(len(lo)) if dlo[i] < lo[i] or dhi[i] > hi[i]]
    if bad:
        i = bad[0]
        raise ValueError(
            f"{who}: delta values fall OUTSIDE the frozen calibration "
            f"grid on {len(bad)} dimension(s) (first: dim {i}, delta "
            f"[{dlo[i]}, {dhi[i]}] vs grid [{lo[i]}, {hi[i]}]). "
            "Out-of-grid values clamp under SQ8 encoding and silently "
            "degrade candidates — rebuild the artifact to recalibrate."
        )


def _check_id_type(meta: dict, new_rows: DataFrame, id_col: str,
                   who: str) -> None:
    """Refuse a delta whose id column type differs from the sidecar's
    recorded ``id_type``: a mismatched delta would write
    schema-divergent parquet files into codes/full that fail (or
    silently coerce) only at probe time — the same fail-at-the-boundary
    contract as the kind/staleness/envelope checks."""
    want = meta.get("id_type")
    got = dict(new_rows.dtypes).get(id_col)
    if want is not None and got != want:
        raise TypeError(
            f"{who}: delta id column {id_col!r} has type {got!r} but the "
            f"index was built with id_type {want!r} — cast the delta's "
            "ids to match (mixed id types would write schema-mismatched "
            "parquet into the artifact)"
        )


def append_sq8_index(
    new_rows: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Append a delta to a :func:`save_sq8_index` artifact WITHOUT
    re-encoding the corpus — the build-amortization move of the
    reference's ``tdb_cons_append`` (src/tdb_cons.c:574-657: merge into
    an existing store instead of re-encoding it).

    The delta encodes on the FROZEN sidecar grid, so as long as its
    values stay inside the grid's per-dim envelope the result is
    bit-identical to a full rebuild on the union: calibration is per-dim
    min/max, an in-envelope delta leaves the union's min/max — hence the
    grid, hence every code — unchanged (tested:
    ``test_append_sq8_index_parity_and_cost``). A delta that exceeds the
    envelope refuses loudly (out-of-grid values clamp and degrade
    candidates silently); that is the recalibration boundary where a
    rebuild is required.

    Cost ∝ delta: one agg pass + one encode pass over ``new_rows`` only;
    codes/ and full/ gain new files (append mode), each appended full/
    file is itself range-sorted so row-group pruning stays tight for
    point reads. After many small appends, :func:`compact_code_index`
    re-compacts the layout (pure re-layout — the grid is frozen, so no
    recalibration). A crash mid-append leaves fingerprints that no longer
    match (:func:`fsutil.load_artifact`), so probes AND further appends
    refuse the artifact; recovery is a rebuild. Duplicate ids are the
    caller's contract, exactly as in :func:`save_sq8_index`.
    """
    from .dedup import quantize_q20

    spark = new_rows.sparkSession
    meta, live = _load_code_index(spark, path, "sq8")
    _check_id_type(meta, new_rows, id_col, "append_sq8_index")
    dim = int(meta["dim"])
    dlo, dhi = _sq8_calibrate(new_rows, vec_col, dim, "append_sq8_index")
    _check_grid_envelope(dlo, dhi, meta["lo"], meta["hi"],
                         "append_sq8_index")
    lo_arr = F.array(*[F.lit(float(x)) for x in meta["lo"]])
    hi_arr = F.array(*[F.lit(float(x)) for x in meta["hi"]])
    coded = new_rows.select(
        F.col(id_col).alias("corpus_id"),
        _sq8_expr(F.col(vec_col), lo_arr, hi_arr).alias("__cq"),
        quantize_q20(F.col(vec_col)).alias("cv20"),
    )
    _write_code_artifact(spark, coded, path, meta,
                         max(new_rows.rdd.getNumPartitions(), 1), live)
    return path


def sq8_topk_prebuilt(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 20,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k against a :func:`save_sq8_index` artifact, bit-identical
    to :func:`sq8_topk` on the same corpus. Plan shape (audited in
    ``test_sq8_prebuilt_scans_code_table_only``):

    1. CANDIDATES: scan ``codes/`` only — 1 byte/dim + one long per
       vector; queries quantize onto the SIDECAR grid (literals, no
       corpus pass); exact int64 code dot in an Arrow batch; code-space
       cosine rank with the partial top-k (WindowGroupLimit) keeping
       partitions×|Q|×rerank rows in the shuffle.
    2. RERANK: the survivor id set is |Q|·rerank — metadata-scale by
       construction — so it collects to an IN-list literal pushed into
       the ``full/`` scan (row-group pruning on the range-sorted
       layout: point reads, not a corpus scan).

    Stale artifacts and a missing sidecar are refused
    (:func:`fsutil.load_artifact`), as in :func:`ivf_topk_prebuilt`.
    """
    from .dedup import quantize_q20

    meta, live = _load_code_index(spark, path, "sq8")
    dim = int(meta["dim"])
    lo_arr = F.array(*[F.lit(float(x)) for x in meta["lo"]])
    hi_arr = F.array(*[F.lit(float(x)) for x in meta["hi"]])

    q_guard = F.assert_true(
        F.size(F.col(vec_col)) == dim,
        f"sq8_topk_prebuilt: query {vec_col} width != dim={dim}",
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_q20(F.col(vec_col)).alias("qv20"),
        F.when(q_guard.isNull(),
               _sq8_expr(F.col(vec_col), lo_arr, hi_arr)).alias("qq"),
    ).withColumn(
        "n2q",
        F.aggregate(F.transform(F.col("qq"), lambda x: x * x),
                    F.lit(0).cast("long"), lambda acc, x: acc + x),
    )

    return _code_table_probe(spark, live, q, k, rerank, signed=True)


def _packed_dot(code: Column, qq: Column) -> Column:
    """Exact int64 dot of a packed byte-code column against an
    array<long> query code, in one Arrow batch."""

    @F.pandas_udf("long")
    def dot(cs: pd.Series, qs: pd.Series) -> pd.Series:
        if len(cs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        X = np.frombuffer(b"".join(cs.to_numpy()),
                          dtype=np.uint8).reshape(len(cs), -1)
        Y = np.vstack(qs.to_numpy()).astype(np.int64)
        return pd.Series((X.astype(np.int64) * Y).sum(axis=1))

    return dot(code, qq)


def _code_table_probe(spark, live: dict[str, str], q: DataFrame, k: int,
                      rerank: int, signed: bool) -> DataFrame:
    """Shared probe tail for the persisted compressed-scan artifacts:
    code-table scan → code-space-cosine candidates (partial top-k) →
    bounded IN-list point reads of full/ → exact q20 rerank. ``q`` must
    carry (query_id, qv20, qq, n2q). ``signed`` mirrors the matching
    direct operator's candidate metric exactly (sq8_topk sign-factors
    negative dots; jl_sq8_topk's codes are 0..255 so its expression has
    no negative branch — bit-parity requires matching forms)."""
    from .dedup import quantized_cosine_udf

    codes = spark.read.parquet(live["codes"])
    den = F.floor(
        F.sqrt((F.col("n2") * F.col("n2q")).cast("double"))
    ).cast("long")
    if signed:
        acs = F.when(
            (F.col("n2") > 0) & (F.col("n2q") > 0),
            F.when(
                F.col("int_dot") >= 0,
                F.expr("(1000000 * int_dot) div __den"),
            ).otherwise(-F.expr("(1000000 * -int_dot) div __den")),
        )
    else:
        acs = F.when(
            (F.col("n2") > 0) & (F.col("n2q") > 0),
            F.expr("(1000000 * int_dot) div __den"),
        )
    cand_w = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("approx_cos_micro"), F.asc("corpus_id")
    )
    cands = (
        codes.join(F.broadcast(q))
        .withColumn("int_dot", _packed_dot(F.col("code"), F.col("qq")))
        .withColumn("__den", den)
        .withColumn("approx_cos_micro", acs)
        .withColumn("crank", F.row_number().over(cand_w))
        .filter(F.col("crank") <= rerank)
        .select("query_id", "corpus_id", "approx_cos_micro", "qv20")
    )
    # survivor ids are |Q|·rerank (bounded, metadata-scale) → literal
    # IN-list so the full/ scan prunes row groups on the sorted layout.
    # persist (not checkpoint) keeps the ids-collect from rescanning the
    # codes while leaving the candidate lineage visible to plan audits
    surv = cands.persist()
    ids = [r[0] for r in surv.select("corpus_id").distinct().collect()]
    full = spark.read.parquet(live["full"]).filter(
        F.col("corpus_id").isin(ids))
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("corpus_id")
    )
    result = (
        surv.join(full, "corpus_id")
        .withColumn("cos", F.round(
            quantized_cosine_udf(F.col("cv20"), F.col("qv20")), 6))
        .withColumn("rank", F.row_number().over(rerank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "approx_cos_micro", "cos", "rank")
    )
    # release the cached candidates when the caller lets go of the result
    # — an unconditional persist would otherwise pin executor storage for
    # the life of the session, one leak per probe. Early release is
    # always safe (worst case the bounded candidate stage recomputes).
    weakref.finalize(result, _unpersist_quietly, surv)
    return result


def _unpersist_quietly(df: DataFrame) -> None:
    """weakref.finalize target: best-effort unpersist — at interpreter
    exit the JVM gateway may already be gone, and a dead gateway must
    not turn cache cleanup into a crash."""
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass


def _jl_project_exprs(vec_col: str, dim: int, out_dim: int, who: str):
    """The JL stage's shared expressions: q10 fixed-point lift (with the
    loud width guard folded in) and the exact-integer Rademacher
    projection over the deterministic plane table."""
    from .dedup import _srp_planes

    planes = _srp_planes(out_dim, dim)
    guard = F.assert_true(
        F.size(F.col(vec_col)) == dim,
        f"{who}: {vec_col} width != dim={dim}",
    )
    q10 = F.when(guard.isNull(), F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(1024.0)).cast("long"),
    ))

    def project(qcol):
        return F.array(*[
            F.aggregate(
                F.zip_with(
                    qcol,
                    F.array(*[F.lit(int(v)) for v in row]),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for row in planes
        ])

    return q10, project


def save_jl_sq8_index(
    corpus: DataFrame,
    path: str,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> str:
    """Persist the STACKED JL→SQ8 artifact — the served form of
    :func:`jl_sq8_topk`: ``codes/`` stores ``out_dim`` BYTES per vector
    (16 bytes at the default — 16× under float32), computed once with
    the exact direct-operator expressions (JL projection on the
    deterministic Rademacher planes, then SQ8 on the reduced space), so
    a probe is bit-identical to the direct run. Same layout and
    sidecar protocol as :func:`save_sq8_index`."""
    from .dedup import quantize_q20

    spark = corpus.sparkSession
    q10, project = _jl_project_exprs(vec_col, dim, out_dim,
                                     "save_jl_sq8_index")
    proj = corpus.select(
        F.col(id_col).alias("corpus_id"),
        quantize_q20(F.col(vec_col)).alias("cv20"),
        project(q10).alias("rv"),
    )
    dims = proj.agg(
        *[F.min(F.col("rv")[i].cast("double")).alias(f"lo{i}")
          for i in range(out_dim)],
        *[F.max(F.col("rv")[i].cast("double")).alias(f"hi{i}")
          for i in range(out_dim)],
    ).collect()[0]
    lo = [float(dims[f"lo{i}"]) for i in range(out_dim)]
    hi = [float(dims[f"hi{i}"]) for i in range(out_dim)]
    lo_arr = F.array(*[F.lit(x) for x in lo])
    hi_arr = F.array(*[F.lit(x) for x in hi])
    coded = proj.select(
        "corpus_id",
        _sq8_expr(F.col("rv"), lo_arr, hi_arr).alias("__cq"),
        "cv20",
    )
    _write_code_artifact(
        spark, coded, path,
        {"kind": "jl_sq8", "dim": dim, "out_dim": out_dim,
         "lo": lo, "hi": hi, "id_type": dict(corpus.dtypes)[id_col]},
        parts=max(corpus.rdd.getNumPartitions(), 1),
    )
    return path


def append_jl_sq8_index(
    new_rows: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Append a delta to a :func:`save_jl_sq8_index` artifact — same
    contract as :func:`append_sq8_index` (frozen grid → bit-parity with
    a rebuild on the union while the delta stays inside the envelope;
    out-of-envelope refuses = the recalibration boundary), except the
    envelope check runs in PROJECTED space: the grid lives over the
    Rademacher projection ``rv``, so the delta projects on the
    deterministic plane table first and its per-out-dim min/max compare
    against the frozen grid. Cost ∝ delta: the projected delta is
    persisted so the envelope agg and the coded write share ONE
    projection pass over ``new_rows``."""
    from .dedup import quantize_q20

    spark = new_rows.sparkSession
    meta, live = _load_code_index(spark, path, "jl_sq8")
    _check_id_type(meta, new_rows, id_col, "append_jl_sq8_index")
    dim, out_dim = int(meta["dim"]), int(meta["out_dim"])
    q10, project = _jl_project_exprs(vec_col, dim, out_dim,
                                     "append_jl_sq8_index")
    proj = new_rows.select(
        F.col(id_col).alias("corpus_id"),
        quantize_q20(F.col(vec_col)).alias("cv20"),
        project(q10).alias("rv"),
    ).persist()
    dims = proj.agg(
        *[F.min(F.col("rv")[i].cast("double")).alias(f"lo{i}")
          for i in range(out_dim)],
        *[F.max(F.col("rv")[i].cast("double")).alias(f"hi{i}")
          for i in range(out_dim)],
    ).collect()[0]
    dlo = [float(dims[f"lo{i}"]) for i in range(out_dim)]
    dhi = [float(dims[f"hi{i}"]) for i in range(out_dim)]
    try:
        _check_grid_envelope(dlo, dhi, meta["lo"], meta["hi"],
                             "append_jl_sq8_index")
        lo_arr = F.array(*[F.lit(float(x)) for x in meta["lo"]])
        hi_arr = F.array(*[F.lit(float(x)) for x in meta["hi"]])
        coded = proj.select(
            "corpus_id",
            _sq8_expr(F.col("rv"), lo_arr, hi_arr).alias("__cq"),
            "cv20",
        )
        _write_code_artifact(spark, coded, path, meta,
                             max(new_rows.rdd.getNumPartitions(), 1), live)
    finally:
        proj.unpersist()
    return path


def _parquet_file_count(spark, path: str) -> int:
    """Parquet files directly under ``path``."""
    from .. import fsutil

    _, hpath, fs = fsutil.hfs(spark, path)
    return sum(1 for st in fs.listStatus(hpath(path))
               if st.getPath().getName().endswith(".parquet"))


def compact_code_index(spark, path: str,
                       rows_per_file: int = 2_000_000) -> int:
    """Re-compact a :func:`save_sq8_index` / :func:`save_jl_sq8_index`
    artifact after many appends. Each append adds files to codes/ and
    full/, and each appended full/ file is only LOCALLY range-sorted —
    so file counts grow without bound and the probe's bounded IN-list
    point reads prune per-file instead of globally. Compaction is a
    PURE RE-LAYOUT: codes are grid-frozen (the append envelope law), so
    there is no recalibration and no re-encoding, and the probe is
    bit-identical before and after (tested:
    ``test_compact_code_index_parity_and_layout``).

    The new ``codes_g<N>``/``full_g<N>`` generation commits and the
    superseded one is swept as in :func:`fsutil.compact_artifact`. Run
    while no append is in flight: both end in a sidecar commit, and the
    loser's fingerprints refuse, so nothing is silently lost. Returns the
    number of parquet data files compacted away."""
    from .. import fsutil

    return fsutil.compact_artifact(
        spark, path, SQ8_META_FILE,
        {"codes": DataFrame.repartition, "full": _range_sorted},
        "save_sq8_index or save_jl_sq8_index", "full", rows_per_file,
        kinds=("sq8", "jl_sq8"),
    )


def jl_sq8_topk_prebuilt(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 20,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k against a :func:`save_jl_sq8_index` artifact,
    bit-identical to :func:`jl_sq8_topk` on the same corpus: queries
    JL-project on the regenerated plane table and quantize onto the
    sidecar grid (no corpus pass), candidates come from the 16-byte
    code-table scan alone, and the rerank point-reads ``full/`` through
    the bounded IN-list. Stale/missing sidecar contract as
    :func:`sq8_topk_prebuilt`; the non-negative candidate metric
    mirrors jl_sq8_topk's expression exactly (its codes are 0..255, so
    the direct operator has no negative branch)."""
    from .dedup import quantize_q20

    meta, live = _load_code_index(spark, path, "jl_sq8")
    dim, out_dim = int(meta["dim"]), int(meta["out_dim"])
    lo_arr = F.array(*[F.lit(float(x)) for x in meta["lo"]])
    hi_arr = F.array(*[F.lit(float(x)) for x in meta["hi"]])
    q10, project = _jl_project_exprs(vec_col, dim, out_dim,
                                     "jl_sq8_topk_prebuilt")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_q20(F.col(vec_col)).alias("qv20"),
        project(q10).alias("rv"),
    ).select(
        "query_id", "qv20",
        _sq8_expr(F.col("rv"), lo_arr, hi_arr).alias("qq"),
    ).withColumn(
        "n2q",
        F.aggregate(F.transform(F.col("qq"), lambda x: x * x),
                    F.lit(0).cast("long"), lambda acc, x: acc + x),
    )
    return _code_table_probe(spark, live, q, k, rerank, signed=False)


def label_centroid_cosines(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    q_scale_bits: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Pairwise label-centroid cosine matrix — WHICH classes are
    entangled with which, the pairwise complement to
    :func:`label_separability`'s per-label within/between report (the
    confusion structure an embedding audit reads before trusting labels
    for hard-negative mining or stratified splits).

    Exactness: centroid cosine equals SUM-vector cosine (the 1/n
    factors cancel), so the operator never divides by counts — per-label
    per-dimension int64 sums on the floor(v·2^q) lattice, pairwise
    integer dots on the labels²-sized table. An in-plan guard raises if
    any |sum| reaches 2^23 (the bound keeping the 64-dim dot < 2^53 so
    the int→double casts are exact); lower q_scale_bits for bigger
    corpora — the default q10 covers ~6k vectors/label at |v| ≤ 1.

    Plan: one JVM-side quantize + 64-aggregate groupBy (map-side
    combine, labels-sized result), then a broadcast self-join of the
    tiny label table. No Arrow, no corpus re-shuffle."""
    scale = float(1 << q_scale_bits)
    qv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(scale)).cast("long"),
    )
    base = df.filter(F.col(label_col).isNotNull()).select(
        F.col(label_col).cast("long").alias("label"), qv.alias("q")
    )
    sums = base.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(dim)],
    ).select(
        "label", "n",
        F.array(*[F.col(f"s{i}") for i in range(dim)]).alias("s"),
    )
    max_abs = F.array_max(F.transform(F.col("s"), lambda x: F.abs(x)))
    guarded = F.when(
        F.assert_true(
            max_abs < F.lit(1 << 23),
            F.lit(
                "label_centroid_cosines: a per-label quantized sum "
                "reached 2^23 — the 64-dim dot would exceed the exact "
                "int->double range; lower q_scale_bits"
            ),
        ).isNull(),
        F.col("s"),
    )
    sums = sums.select("label", "n", guarded.alias("s"))
    a = sums.select(
        F.col("label").alias("label_a"), F.col("n").alias("n_a"),
        F.col("s").alias("sa"),
    )
    b = sums.select(
        F.col("label").alias("label_b"), F.col("n").alias("n_b"),
        F.col("s").alias("sb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(F.col(c), lambda x: x * x),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        ).cast("double")
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a", "label_b", "n_a", "n_b",
            F.round(dot.cast("double") / (norm("sa") * norm("sb")), 6)
            .alias("centroid_cos"),
        )
    )


def jl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 20,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """ANN top-k over Johnson-Lindenstrauss ±1 projections — the
    DIMENSION-compression scale path beside SQ8's precision compression
    (q246): project 64 dims onto ``out_dim`` deterministic Rademacher
    planes (Achlioptas 2001: ±1 planes satisfy the JL lemma), rank
    candidates by cosine in the REDUCED space, exact-rerank the
    survivors on the full q20 lattice. A 16-dim int scan reads 4× less
    than the 64-dim one — and composes with SQ8 for 16× in principle.

    Determinism: projections are exact int64 dots of q10-quantized
    vectors against ±1 literal planes (the q10 lattice keeps the
    reduced dot < 2^53-exact territory for |v| ≤ 1 at 64 dims); the
    candidate score is cosine-micro with sign-factored integer
    division; the only doubles are exact int casts + correctly-rounded
    mul/sqrt — identical in any engine, so the DuckDB oracle reproduces
    candidates AND ranks bit-for-bit."""
    from .dedup import _srp_planes, quantize_q20, quantized_cosine_udf

    planes = _srp_planes(out_dim, dim)
    # width guard folded into the quantize step (assert_true is NULL
    # when valid — zero extra jobs): a vector of any other width would
    # otherwise silently zip_with-truncate against the ±1 planes
    guard = F.assert_true(
        F.size(F.col(vec_col)) == dim,
        f"jl_topk: {vec_col} width != dim={dim}",
    )
    q10 = F.when(guard.isNull(), F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(1024.0)).cast("long"),
    ))

    def project(qcol):
        return F.array(*[
            F.aggregate(
                F.zip_with(
                    qcol,
                    F.array(*[F.lit(int(v)) for v in row]),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for row in planes
        ])

    norm2 = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        quantize_q20(F.col(vec_col)).alias("cv20"),
        project(q10).alias("rc"),
    ).withColumn("n2c", norm2(F.col("rc")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_q20(F.col(vec_col)).alias("qv20"),
        project(q10).alias("rq"),
    ).withColumn("n2q", norm2(F.col("rq")))

    @F.pandas_udf("long")
    def red_dot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        X = np.vstack(xs.to_numpy()).astype(np.int64)
        Y = np.vstack(ys.to_numpy()).astype(np.int64)
        return pd.Series((X * Y).sum(axis=1))

    # n2 products exceed int64: go through doubles (exact int casts,
    # correctly-rounded mul/sqrt — bit-identical across engines)
    den = F.floor(
        F.sqrt(F.col("n2c").cast("double") * F.col("n2q").cast("double"))
    ).cast("long")
    dot = red_dot(F.col("rc"), F.col("rq"))
    acs = F.when(
        (F.col("n2c") > 0) & (F.col("n2q") > 0),
        F.when(
            F.col("red_dot") >= 0,
            F.expr("(1000000 * red_dot) div __den"),
        ).otherwise(-F.expr("(1000000 * -red_dot) div __den")),
    )
    cand_w = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("approx_cos_micro"), F.asc("corpus_id")
    )
    cands = (
        c.join(F.broadcast(q))
        .withColumn("red_dot", dot)
        .withColumn("__den", den)
        .withColumn("approx_cos_micro", acs)
        .withColumn("crank", F.row_number().over(cand_w))
        .filter(F.col("crank") <= rerank)
    )
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("corpus_id")
    )
    return (
        cands.withColumn(
            "cos", F.round(quantized_cosine_udf(F.col("cv20"), F.col("qv20")), 6)
        )
        .withColumn("rank", F.row_number().over(rerank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "approx_cos_micro", "cos", "rank")
    )


def jl_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 20,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """The STACKED compression path: JL-project dim→out_dim (q262),
    then SQ8-quantize the reduced space (q246) — the candidate scan
    reads ``out_dim`` BYTES per vector (16 bytes vs 256 for float32:
    16× more corpus per page-cache byte), proving the composition the
    two single-stage operators advertise. Candidates rank by cosine in
    the stacked code space; survivors re-rank on the full q20 lattice.
    Same determinism inventory as its parents: exact int projections,
    IEEE-identical grid quantization, sign-factored integer division,
    exact-int rerank — the oracle reproduces candidates AND ranks."""
    from .dedup import _srp_planes, quantize_q20, quantized_cosine_udf

    planes = _srp_planes(out_dim, dim)
    # width guard folded into the quantize step (zero extra jobs) — a
    # mismatched corpus fails loudly instead of zip_with-truncating
    guard = F.assert_true(
        F.size(F.col(vec_col)) == dim,
        f"jl_sq8_topk: {vec_col} width != dim={dim}",
    )
    q10 = F.when(guard.isNull(), F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(1024.0)).cast("long"),
    ))

    def project(qcol):
        return F.array(*[
            F.aggregate(
                F.zip_with(
                    qcol,
                    F.array(*[F.lit(int(v)) for v in row]),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for row in planes
        ])

    proj = corpus.select(
        F.col(id_col).alias("corpus_id"),
        quantize_q20(F.col(vec_col)).alias("cv20"),
        project(q10).alias("rv"),
    )
    dims = proj.agg(
        *[F.min(F.col("rv")[i].cast("double")).alias(f"lo{i}")
          for i in range(out_dim)],
        *[F.max(F.col("rv")[i].cast("double")).alias(f"hi{i}")
          for i in range(out_dim)],
    ).collect()[0]
    lo_arr = F.array(*[F.lit(float(dims[f"lo{i}"])) for i in range(out_dim)])
    hi_arr = F.array(*[F.lit(float(dims[f"hi{i}"])) for i in range(out_dim)])

    def sq8(col):
        return F.transform(
            col.cast("array<double>"),
            lambda x, i: F.when(
                F.element_at(hi_arr, i + 1) == F.element_at(lo_arr, i + 1),
                F.lit(0).cast("long"),
            ).otherwise(
                F.greatest(
                    F.lit(0).cast("long"),
                    F.least(
                        F.lit(255).cast("long"),
                        F.floor(
                            (x - F.element_at(lo_arr, i + 1))
                            * F.lit(255.0)
                            / (F.element_at(hi_arr, i + 1)
                               - F.element_at(lo_arr, i + 1))
                        ).cast("long"),
                    ),
                )
            ),
        )

    norm2 = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    c = proj.select(
        "corpus_id", "cv20", sq8(F.col("rv")).alias("cq")
    ).withColumn("n2c", norm2(F.col("cq")))
    qproj = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_q20(F.col(vec_col)).alias("qv20"),
        project(q10).alias("rv"),
    )
    q = qproj.select(
        "query_id", "qv20", sq8(F.col("rv")).alias("qq")
    ).withColumn("n2q", norm2(F.col("qq")))

    @F.pandas_udf("long")
    def code_dot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        X = np.vstack(xs.to_numpy()).astype(np.int64)
        Y = np.vstack(ys.to_numpy()).astype(np.int64)
        return pd.Series((X * Y).sum(axis=1))

    den = F.floor(
        F.sqrt((F.col("n2c") * F.col("n2q")).cast("double"))
    ).cast("long")
    acs = F.when(
        (F.col("n2c") > 0) & (F.col("n2q") > 0),
        F.expr("(1000000 * code_dot) div __den"),
    )
    cand_w = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("approx_cos_micro"), F.asc("corpus_id")
    )
    cands = (
        c.join(F.broadcast(q))
        .withColumn("code_dot", code_dot(F.col("cq"), F.col("qq")))
        .withColumn("__den", den)
        .withColumn("approx_cos_micro", acs)
        .withColumn("crank", F.row_number().over(cand_w))
        .filter(F.col("crank") <= rerank)
    )
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("corpus_id")
    )
    return (
        cands.withColumn(
            "cos", F.round(quantized_cosine_udf(F.col("cv20"), F.col("qv20")), 6)
        )
        .withColumn("rank", F.row_number().over(rerank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "approx_cos_micro", "cos", "rank")
    )
