"""Embedding similarity search over the embeddings table (vec_id,
embedding: array<float>, label).

- brute-force cosine top-k: the exactness baseline. Normalize once, then
  dot products via a vectorized numpy kernel inside applyInPandas per query
  block (matrix-matrix multiply per Arrow batch, not per-row Python).
- LSH-bucketed ANN: deterministic random-hyperplane signatures (seeded
  numpy planes, sign bits -> bucket), candidates = bucket equi-join +
  multiprobe (flip each bit), exact re-rank inside buckets. The scale path:
  shuffle O(n * probes), never O(n^2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SEED = 1234


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact distributed top-k by cosine: (qid, vec_id, rank, cos_sim).

    The scale-correct orientation: the (small) QUERY set is collected and
    broadcast; the (huge) corpus streams through mapInPandas, one GEMM per
    Arrow batch, emitting only the per-batch top-k per query. A final
    window keeps the global top-k. Shuffle is O(n_batches * n_queries * k),
    never the corpus; nothing corpus-sized ever touches the driver.

    Exactness: per-row similarity is independent of batching (normalized
    float64 dot), so the global top-k equals brute force. Ties break on
    vec_id in both the per-batch and global selection, keeping the
    composition lossless.
    """
    spark = queries.sparkSession
    q_pd = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).limit(max_queries + 1).toPandas()
    if len(q_pd) > max_queries:
        raise ValueError(
            f"cosine_topk broadcasts the query set; got > {max_queries} "
            "queries — swap the sides or use lsh_topk"
        )
    if q_pd.empty:
        return spark.createDataFrame(
            [], "qid long, vec_id long, rank int, cos_sim double"
        )
    q_ids = q_pd["qid"].to_numpy()
    q_mat = _normalize_rows(np.array(q_pd["qv"].tolist(), dtype=np.float64))
    b_q = spark.sparkContext.broadcast((q_ids, q_mat))

    def _map(batches):
        ids, mat = b_q.value
        for pdf in batches:
            if pdf.empty:
                continue
            c = _normalize_rows(np.array(pdf["_cv"].tolist(), dtype=np.float64))
            cids = pdf["cid"].to_numpy()
            sims = mat @ c.T  # (nq, nbatch)
            kk = min(k, sims.shape[1])
            # one vectorized 2-D lexsort over (cid, -sim) — row-wise along
            # the last axis, same (-sim, cid) tie order as the old per-query
            # loop (so the oracle hash is unchanged), no Python per row
            order = np.lexsort(
                (np.broadcast_to(cids, sims.shape), -sims), axis=1
            )[:, :kk]
            top_i = np.take_along_axis(
                np.broadcast_to(cids, sims.shape), order, axis=1
            )
            top_s = np.take_along_axis(sims, order, axis=1)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(ids, kk),
                    "vec_id": top_i.ravel().astype(np.int64),
                    "cos_sim": top_s.ravel(),
                }
            )

    part = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("_cv")
    ).mapInPandas(_map, "qid long, vec_id long, cos_sim double")
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", "rank", "cos_sim")
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_corpus: int = 1_000_000,
) -> DataFrame:
    """Exact top-k by cosine: (qid, vec_id, rank, cos_sim).

    TEST-ORACLE TWIN ONLY: collects the corpus to the driver (capped at
    ``max_corpus`` rows — errors beyond that). Production paths are
    cosine_topk (exact, corpus distributed) and lsh_topk (ANN).
    """
    spark = queries.sparkSession
    if corpus.limit(max_corpus + 1).count() > max_corpus:
        raise ValueError(
            f"cosine_topk_bruteforce collects the corpus (> {max_corpus} "
            "rows) — use cosine_topk or lsh_topk"
        )
    corpus_pd = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("v")
    ).toPandas()
    ids = corpus_pd["cid"].to_numpy()
    mat = _normalize_rows(np.array(corpus_pd["v"].tolist(), dtype=np.float64))
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def _map(batches):
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    {"qid": [], "vec_id": [], "rank": [], "cos_sim": []}
                )
                continue
            q = _normalize_rows(
                np.array(pdf["_qv"].tolist(), dtype=np.float64)
            )
            sims = q @ b_mat.value.T  # (nq, nc)
            out = []
            for row_i in range(sims.shape[0]):
                s = sims[row_i]
                order = np.lexsort((b_ids.value, -s))[:k]
                for r, j in enumerate(order, start=1):
                    out.append(
                        (pdf["qid"].iloc[row_i], int(b_ids.value[j]), r, float(s[j]))
                    )
            yield pd.DataFrame(
                out, columns=["qid", "vec_id", "rank", "cos_sim"]
            )

    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv")
    )
    return q.mapInPandas(
        _map, "qid long, vec_id long, rank int, cos_sim double"
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_bits: int = 10,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b) with
    cos(a, b) >= threshold and id_a < id_b.

    The dedup sibling of lsh_topk: candidates come from a hyperplane-LSH
    self-join (same (table, bucket) in ANY of n_tables independent
    tables), exact cosine re-check inside candidates only — shuffle
    O(n * tables), never O(n^2). Miss probability per true pair is
    (1 - (1 - theta/pi)^n_bits)^n_tables — at threshold 0.9
    (theta <= 0.144*pi) and 10 bits x 8 tables that is < 2e-5; size
    n_tables up for tighter guarantees. Emits only id pairs (no float
    column) so the result hashes identically across engines.

    Scale sizing: within-bucket work is quadratic in bucket size, so
    n_bits must GROW with the corpus — for a SELF-join size buckets to a
    handful of rows (n_bits ≈ log2(n) - 2), since candidate volume is
    n * bucket/2 * tables. High n_bits costs recall near the threshold
    (per-table retention (1 - theta/pi)^n_bits); genuine near-dups
    (cos >= 0.99, theta <= 0.045*pi) survive 19 bits x 8 tables with
    miss < 1e-6, while threshold-0.9 edge pairs need more tables —
    the same recall/volume dial every LSH deployment turns. AQE
    skew-join splitting backstops residual hot buckets.

    Shuffle layout (round-4 headroom finding): the self-join and the
    pair dedupe move IDS ONLY (24 B/row); vectors re-attach afterwards
    by two id equi-joins. Carrying both vectors through the candidate
    stream (the round-3 layout) multiplies every candidate row by
    ~2*dim doubles — at 2M vectors x 8 tables that is tens of GB of
    shuffle for work the ids-only plan does in hundreds of MB."""
    sig = lsh_signatures(df, dim, n_bits, n_tables, id_col, vec_col).select(
        "id", "table", "bucket"
    )
    a = sig.select(F.col("id").alias("id_a"), "table", "bucket")
    b = sig.select(F.col("id").alias("id_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = df.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vv"))
    pairs = cand.join(
        vecs.select(F.col("_vid").alias("id_a"), F.col("_vv").alias("va")),
        "id_a",
    ).join(
        vecs.select(F.col("_vid").alias("id_b"), F.col("_vv").alias("vb")),
        "id_b",
    )

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        x = _normalize_rows(np.array(va.tolist(), dtype=np.float64))
        y = _normalize_rows(np.array(vb.tolist(), dtype=np.float64))
        return pd.Series((x * y).sum(axis=1))

    return (
        pairs.withColumn("cos_sim", _cos(F.col("va"), F.col("vb")))
        .where(F.col("cos_sim") >= F.lit(threshold))
        .select("id_a", "id_b")
    )


def ivf_centroids_np(
    vectors: np.ndarray, n_lists: int = 16, iters: int = 10, seed: int = SEED
) -> np.ndarray:
    """Deterministic spherical k-means centroids (numpy, fixed seed/iters).

    At 100 TB centroids train on a driver-side SAMPLE (standard IVF
    practice: the coarse quantizer needs thousands of vectors, not the
    corpus); ASSIGNMENT is the distributed part. Returns (n_lists, dim)
    row-normalized centroids, deterministic for a fixed input."""
    v = _normalize_rows(np.asarray(vectors, dtype=np.float64))
    rs = np.random.RandomState(seed)
    c = v[rs.choice(len(v), size=n_lists, replace=False)]
    for _ in range(iters):
        assign = np.argmax(v @ c.T, axis=1)
        for j in range(n_lists):
            m = v[assign == j]
            if len(m):
                c[j] = m.mean(axis=0)
        c = _normalize_rows(c)
    return c


def ivf_assign_udf(centroids: np.ndarray):
    """array<float> vec -> nearest-centroid list id (vectorized argmax of
    normalized dot; ties break to the lowest id in both engines)."""
    c = _normalize_rows(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        m = _normalize_rows(np.array(vecs.tolist(), dtype=np.float64))
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int32))

    return _assign


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: corpus partitioned into coarse lists (nearest
    centroid), queries probe their n_probe closest lists, exact cosine
    re-rank inside the probed lists. Shuffle O(n + queries * n_probe);
    candidates ~ corpus * n_probe / n_lists. Returns
    (qid, vec_id, rank, cos_sim)."""
    c = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    assign = ivf_assign_udf(c)
    c_asg = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        assign(F.col(vec_col)).alias("list_id"),
    )

    @F.pandas_udf("array<int>")
    def _probes(vecs: pd.Series) -> pd.Series:
        m = _normalize_rows(np.array(vecs.tolist(), dtype=np.float64))
        sims = m @ c.T
        order = np.argsort(-sims, kind="stable", axis=1)[:, :n_probe]
        return pd.Series(order.astype(np.int32).tolist())

    q_asg = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.explode(_probes(F.col(vec_col))).alias("list_id"),
    )
    # equi-join on list_id: measured 10x faster here than broadcasting the
    # probe side (a broadcast fuses the assignment UDF, join and cosine
    # UDF into one stage — chained pandas UDFs each pay their own python
    # worker pool). Key-cardinality at scale is not a concern: n_lists is
    # sized ~sqrt(corpus) in IVF practice, so join keys GROW with data,
    # and AQE skew-join splitting backstops any hot list.
    cand = q_asg.join(c_asg, "list_id").drop("list_id")

    @F.pandas_udf("double")
    def _cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        a = _normalize_rows(np.array(qv.tolist(), dtype=np.float64))
        b = _normalize_rows(np.array(cv.tolist(), dtype=np.float64))
        return pd.Series((a * b).sum(axis=1))

    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        cand.withColumn("cos_sim", _cos(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col("cid").alias("vec_id"), "rank", "cos_sim")
    )


def ivf_centroids_for_dir(
    sf_dir: str, n_lists: int = 16, max_train: int = 100_000
) -> np.ndarray:
    """Centroids for the embeddings table at `sf_dir` — driver-side pyarrow
    read of (at most) a training sample, no Spark. Shared by the query and
    the DuckDB oracle so both engines quantize with identical lists."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    v = np.array(t.column("embedding").to_pylist()[:max_train], dtype=np.float64)
    return ivf_centroids_np(v, n_lists=n_lists)


def _hyperplanes(dim: int, n_bits: int, seed: int = SEED) -> np.ndarray:
    rs = np.random.RandomState(seed)
    return rs.normal(size=(n_bits, dim))


def lsh_signatures(
    df: DataFrame,
    dim: int,
    n_bits: int = 12,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, table, bucket) — one sign-bit bucket per hash table.

    Multiple independent tables (seeded hyperplane sets) are the standard
    recall lever for hyperplane LSH; candidates union across tables.
    """
    plane_sets = [
        _hyperplanes(dim, n_bits, seed=SEED + 7919 * t) for t in range(n_tables)
    ]

    @F.pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        weights = (1 << np.arange(n_bits)).astype(np.int64)
        per_table = [((m @ p.T) > 0) @ weights for p in plane_sets]
        return pd.Series(np.stack(per_table, axis=1).tolist())

    out = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(_buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    return out


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 10,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: per-table bucket equi-join (+1-bit multiprobe), candidates
    unioned across tables, exact cosine re-rank. Returns
    (qid, vec_id, rank, cos_sim). Shuffle O(n * tables * probes).

    Ids-only candidate stream (round-4 layout, see cosine_near_dup_pairs):
    the bucket join and (qid, cid) dedup move ids only — the corpus
    vectors would otherwise be replicated once per table (and the query
    vectors once per probe) through the join shuffle; both re-attach by
    id equi-joins after dedup."""
    c_sig = lsh_signatures(corpus, dim, n_bits, n_tables, id_col, vec_col).select(
        F.col("id").alias("cid"), "table", "bucket"
    )
    q_sig = lsh_signatures(queries, dim, n_bits, n_tables, id_col, vec_col).select(
        F.col("id").alias("qid"), "table", "bucket"
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)],
    )
    q_sig = q_sig.withColumn("bucket", F.explode(probes))

    cand = (
        q_sig.join(c_sig, ["table", "bucket"])
        .select("qid", "cid")
        .dropDuplicates(["qid", "cid"])
        .join(
            corpus.select(
                F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
            ),
            "cid",
        )
        .join(
            queries.select(
                F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
            ),
            "qid",
        )
    )

    @F.pandas_udf("double")
    def _cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        a = _normalize_rows(np.array(qv.tolist(), dtype=np.float64))
        b = _normalize_rows(np.array(cv.tolist(), dtype=np.float64))
        return pd.Series((a * b).sum(axis=1))

    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        cand.withColumn("cos_sim", _cos(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col("cid").alias("vec_id"), "rank", "cos_sim")
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the embedding
    compression step before a memory-bound ANN index (4x smaller than
    float32, SIMD-friendly dot products): scale = max|x| / 127, code_i
    = round-half-up(x_i / scale), zero vectors map to all-zero codes
    with scale 0.

    All codegen (transform / aggregate over the array — no UDF, narrow
    plan), and every step is elementwise or order-free: the max is an
    order-insensitive reduction, each code is one double division +
    floor, and the l1 audit sum is an integer aggregate — so outputs
    are bit-identical across engines/partitionings (the determinism
    contract every operator here keeps).

    Returns (id, dim, scale, l1_code_sum, codes) with codes
    array<int>.

    Plan note: the max-abs is STAGED through its own projection alias
    before the per-element lambda references it — referencing the
    array_max expression directly inside transform() would inline one
    copy per element (the CLAUDE.md reuse trap, dim x re-evaluation)."""
    base = (
        df.select(F.col(id_col), F.col(vec_col).alias("_v"))
        .withColumn("_x", F.transform("_v", lambda v: v.cast("double")))
        .withColumn(
            "_mx", F.array_max(F.transform("_x", lambda v: F.abs(v)))
        )
    )
    mx = F.col("_mx")
    codes = F.when(
        mx == 0.0, F.transform("_x", lambda v: F.lit(0))
    ).otherwise(
        F.transform(
            "_x",
            lambda v: F.floor(v / (mx / F.lit(127.0)) + F.lit(0.5)).cast(
                "int"
            ),
        )
    )
    out = base.select(
        F.col(id_col),
        F.size("_v").alias("dim"),
        (mx / F.lit(127.0)).alias("scale"),
        codes.alias("codes"),
    )
    return out.select(
        id_col,
        "dim",
        "scale",
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda acc, c: acc + F.abs(c)
        ).alias("l1_code_sum"),
        "codes",
    )


def int8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Quantized exact top-k: both sides int8-quantized per vector
    (quantize_int8 semantics) and scored by INTEGER code dot products —
    the memory-bound ANN serving shape (4x smaller vectors, SIMD int
    GEMM) with a property float indexes can't offer: every score is an
    order-free integer sum, so results are bit-exact across engines,
    batchings, and cluster sizes, and the WHOLE index is
    oracle-checkable end to end (no float accumulation anywhere; the
    only doubles are the per-vector scales, one division each).

    Same scale orientation as cosine_topk: queries broadcast, corpus
    streams through one integer GEMM per Arrow batch emitting per-batch
    top-k, a final window keeps the global top-k (ties on vec_id).

    Returns (qid, vec_id, rank, score) — score = raw integer code dot;
    callers needing the approximate cosine multiply by the two scales."""
    spark = queries.sparkSession

    def _quant(mat: np.ndarray) -> np.ndarray:
        x = mat.astype(np.float64)
        mx = np.abs(x).max(axis=1)
        scale = np.where(mx == 0.0, 1.0, mx / 127.0)
        codes = np.floor(x / scale[:, None] + 0.5).astype(np.int64)
        codes[mx == 0.0] = 0
        return codes

    q_pd = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).limit(max_queries + 1).toPandas()
    if len(q_pd) > max_queries:
        raise ValueError(
            f"int8_topk broadcasts the query set; got > {max_queries} "
            "queries — swap the sides"
        )
    if q_pd.empty:
        return spark.createDataFrame(
            [], "qid long, vec_id long, rank int, score long"
        )
    q_ids = q_pd["qid"].to_numpy()
    q_codes = _quant(np.array(q_pd["qv"].tolist(), dtype=np.float64))
    b_q = spark.sparkContext.broadcast((q_ids, q_codes))

    def _map(batches):
        ids, qc = b_q.value
        for pdf in batches:
            if pdf.empty:
                continue
            cc = _quant(np.array(pdf["_cv"].tolist(), dtype=np.float64))
            cids = pdf["cid"].to_numpy()
            scores = qc @ cc.T  # integer (nq, nbatch)
            kk = min(k, scores.shape[1])
            order = np.lexsort(
                (np.broadcast_to(cids, scores.shape), -scores), axis=1
            )[:, :kk]
            top_i = np.take_along_axis(
                np.broadcast_to(cids, scores.shape), order, axis=1
            )
            top_s = np.take_along_axis(scores, order, axis=1)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(ids, kk),
                    "vec_id": top_i.ravel().astype(np.int64),
                    "score": top_s.ravel().astype(np.int64),
                }
            )

    part = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("_cv")
    ).mapInPandas(_map, "qid long, vec_id long, score long")
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", "rank", "score")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 50,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): embedding-space dedup
    scoped to k-means clusters. Every vector is assigned to its nearest
    spherical-kmeans centroid; ONLY within-cluster pairs are compared
    (cosine >= ``threshold``); the resulting near-dup graph is clustered
    with distributed connected components and one representative — the
    minimum id — is kept per component.

    The cluster scoping is the scale mechanism (it is the paper's design,
    not an approximation bolted on): the quadratic candidate pass is
    bounded by cluster size, so n_lists grows with the corpus to hold
    clusters at a constant few thousand vectors, and cross-cluster
    near-dups are accepted misses exactly as in the paper. Candidate
    generation moves IDS ONLY (vectors re-attach by id equi-join — the
    round-4 shuffle-layout finding); components come from the Kiveris
    large-star/small-star contraction (textops.connected_components),
    so a viral duplicate cluster never materializes on one row.

    Returns (id_col, cluster, component, kept) for every input vector:
    ``component`` is the min reachable id, ``kept`` marks the
    representative (isolated vectors keep themselves).
    """
    from geoharvest_spark.textops import connected_components

    asg = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("cluster", ivf_assign_udf(centroids)(F.col("v")))
    sig = asg.select("id", "cluster")
    a = sig.select(F.col("id").alias("id_a"), "cluster")
    b = sig.select(F.col("id").alias("id_b"), "cluster")
    cand = (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    vecs = asg.select(F.col("id").alias("_vid"), F.col("v").alias("_vv"))
    pairs = cand.join(
        vecs.select(F.col("_vid").alias("id_a"), F.col("_vv").alias("va")),
        "id_a",
    ).join(
        vecs.select(F.col("_vid").alias("id_b"), F.col("_vv").alias("vb")),
        "id_b",
    )

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        x = _normalize_rows(np.array(va.tolist(), dtype=np.float64))
        y = _normalize_rows(np.array(vb.tolist(), dtype=np.float64))
        return pd.Series((x * y).sum(axis=1))

    edges = (
        pairs.withColumn("cos_sim", _cos(F.col("va"), F.col("vb")))
        .where(F.col("cos_sim") >= F.lit(threshold))
        .select("id_a", "id_b")
    )
    comp = connected_components(
        edges, vertices=sig.select("id"), max_iter=max_iter
    )
    return sig.join(comp, "id").select(
        F.col("id").alias(id_col),
        F.col("cluster").cast("long").alias("cluster"),
        F.col("component").alias("component"),
        (F.col("id") == F.col("component")).alias("kept"),
    )
