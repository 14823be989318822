"""Similarity search over embedding columns (LLM-pipeline surface).

One kernel per search operator, each in the shape a 100 TB deployment needs:

- ``brute_force_topk`` — the exactness baseline: the (small) query batch is
  collected on the driver and rides into a ``mapInPandas`` over the corpus;
  each corpus batch scores one int64 ``C @ Q.T`` and emits its per-query
  partial top-k. No join, and no corpus shuffle before the final top-k.
- ``lsh_ann_topk`` — the scale path: random-hyperplane LSH bucketing. Both
  sides hash into a B-bit bucket; candidates = same-bucket rows; top-k within
  bucket. The hyperplanes are md5-derived ±1 weights over *quantized integer*
  components, so bucket assignment is exact integer arithmetic — engine
  portable (verifiable against a SQL oracle) AND immune to float-association
  nondeterminism across partitions/engines.
- ``ivf_ann_topk`` — the second scale path: IVF-Flat with a *deterministic
  seeded* coarse quantizer (centroids = an md5-ordered sample of the corpus,
  so no k-means training state; assignment is exact integer L2 in quantized
  space). Corpus rows land in one cell each; a query probes its ``nprobe``
  nearest cells; the two sides cogroup on the cell id and each cell
  re-ranks as one int64 ``Q @ C.T``. At 100 TB the cell column is a
  partitioning key — candidate generation becomes partition pruning
  instead of a corpus-wide scan.

The brute-force and IVF kernels compute in int64, so they take QUANTIZED
vectors (``quantize``) and integral ids, and reject anything else.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_MD5_LOW_HALF = tuple("01234567")


def quantize(vec: Column, scale: int = 1000) -> Column:
    """array<float> -> array<long> by round(x * scale): exact integer space
    for order-independent arithmetic."""
    return F.transform(vec.cast("array<double>"), lambda x: F.round(x * scale).cast("long"))


def vector_norm(v: Column) -> Column:
    """sqrt(sum x^2) with ``dedup.cosine``'s exact fold expression. Norms
    are per-VECTOR: every pair-scoring path precomputes this column per
    side before its candidate join, so the per-pair work is one dot fold —
    folding both norms per pair would triple the element ops over
    candidate sets sized N*candidates."""
    return F.sqrt(
        F.aggregate(v.cast("array<double>"), F.lit(0.0), lambda s, x: s + x * x)
    )


def with_checked_norm(
    df: DataFrame,
    vec: Column,
    id_expr: Column,
    out: str,
    *,
    quantized: bool = False,
) -> DataFrame:
    """Adds column ``out`` = ``vector_norm(vec)`` with the zero-norm
    precondition ENFORCED: cosine is undefined at norm 0, and the LSH
    expression path would otherwise silently rank the NaN cosines (Spark's
    window sort ranks NaN greatest) where the brute-force and IVF Arrow
    kernels raise ValueError on the same rows. This makes LSH reject the
    SAME inputs — ``raise_error`` fires per offending row inside codegen
    and names the id. Filter zero-norm rows upstream if they are expected.

    Deliberately TWO projections (norm first, check second) so the fold
    runs ONCE per row: spelling ``when(norm == 0, raise).otherwise(norm)``
    in one expression materializes the ``F.aggregate`` fold twice —
    Spark's subexpression elimination skips higher-order functions
    (SPARK-35410), and CollapseProject declines to inline a duplicated
    non-cheap alias across the projection boundary (verified on the
    optimized plan: 2 aggregates one-shot vs 1 split).

    ``quantized=True``: when ``vec`` is a QUANTIZED vector, a zero norm has
    TWO possible causes — a true zero-norm input, or a legitimate
    tiny-magnitude vector (all |x| < 0.5/scale) that quantized to
    all-zeros. Blaming the input as "zero-norm" would mislead in the second
    case, and distinguishing per row would require carrying the raw vector
    column past the candidate join (breaking the scoring-time-enforcement
    contract: a zero row whose bucket never joins must not abort the job —
    tests/test_plans.py pins that). The message names both causes instead."""
    tmp = f"__{out}_raw__"
    staged = df.withColumn(tmp, vector_norm(vec))
    if quantized:
        reason = (
            "); the input is zero-norm, or its components are too small "
            "for the quantization scale and rounded to all-zeros — filter "
            "zero vectors upstream, rescale the embeddings, or use an "
            "exact-cosine path"
        )
    else:
        reason = "); filter it upstream"
    check = F.when(
        F.col(tmp) == F.lit(0.0),
        F.raise_error(
            F.concat(
                F.lit("cosine undefined for zero-norm vector (id "),
                id_expr.cast("string"),
                F.lit(reason),
            )
        ).cast("double"),
    ).otherwise(F.col(tmp))
    return staged.withColumn(out, check).drop(tmp)


def dot_product(a: Column, b: Column) -> Column:
    """Fold-left dot product, identical expression to ``dedup.cosine``'s —
    so dot/(norm_a*norm_b) over precomputed norms is bit-identical to
    ``cosine(a, b)``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def _plane_weight(plane: int, dim: int) -> int:
    """Deterministic ±1 hyperplane weight from md5 — importable by the SQL
    oracle as ``CASE WHEN md5(p||':'||d)[1] < '8' THEN 1 ELSE -1 END``."""
    import hashlib

    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()
    return 1 if h[0] in _MD5_LOW_HALF else -1


def lsh_bucket(qvec: Column, num_planes: int, dim: int, plane_offset: int = 0) -> Column:
    """B-bit random-hyperplane bucket of a quantized vector: bit p = sign of
    the ±1-weighted integer dot product. Weights are baked in as array
    literals (driver-computed md5) and folded with zip_with/aggregate — a
    compact loop in codegen (an unrolled 64-term sum per plane overflows
    janino's 64 KB method limit at 32 planes and drops the whole projection
    to interpreted eval). ``plane_offset`` selects an independent plane
    family — multiple hash tables for recall amplification."""
    bits = []
    for p in range(plane_offset, plane_offset + num_planes):
        w = F.array(*[F.lit(_plane_weight(p, d)) for d in range(dim)])
        dot = F.aggregate(
            F.zip_with(qvec, w, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


_INTEGRAL = ("bigint", "int", "smallint", "tinyint")


def _require_integral(
    df: DataFrame, vec_col: str, id_col: str | None, op: str
) -> None:
    """The brute-force and IVF kernels compute in int64: a float vector
    would be silently TRUNCATED by their ``astype(np.int64)`` (embedding
    components in (-1, 1) all become 0). Reject such inputs from the
    schema, before any plan is built."""
    types = dict(df.dtypes)
    bad = []
    if types[vec_col] not in {f"array<{t}>" for t in _INTEGRAL}:
        bad.append(f"{vec_col!r} is {types[vec_col]}")
    if id_col is not None and types[id_col] not in _INTEGRAL:
        bad.append(f"{id_col!r} is {types[id_col]}")
    if bad:
        needs = "integer vectors" + (" and integral ids" if id_col else "")
        raise ValueError(
            f"{op} computes in int64 and needs {needs}, but "
            f"{' and '.join(bad)}; quantize float embeddings first "
            "(quantize(col))"
        )


def _norms(X: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Per-row L2 norms of an int64 block (exact integer sum, one sqrt),
    with the zero-norm precondition ENFORCED: cosine is undefined there,
    so the kernels raise instead of ranking NaNs."""
    n = np.sqrt((X * X).sum(axis=1).astype(np.float64))
    if not n.all():
        bad = ids[n == 0]
        raise ValueError(
            f"cosine undefined for zero-norm vectors (ids {bad[:5].tolist()}"
            f"{'...' if len(bad) > 5 else ''}); filter them upstream"
        )
    return n


_NO_ROWS = pd.DataFrame(
    {"query_id": np.empty(0, np.int64), "corpus_id": np.empty(0, np.int64),
     "cos_sim": np.empty(0, np.float64)}
)
_TOPK_SCHEMA = "query_id long, corpus_id long, cos_sim double"


def _cosine_topk(
    qid: np.ndarray, Q: np.ndarray, qn: np.ndarray,
    cid: np.ndarray, C: np.ndarray, k: int,
) -> pd.DataFrame:
    """Per-query partial top-k of one (queries x corpus) block under
    (cos DESC, corpus_id ASC), self-pairs excluded. The dot and squared
    norms are exact int64 sums; the float steps (sqrt of the exact sums,
    norm product, division) are ``dedup.cosine``'s IEEE doubles in the
    same order, so the rows hash-match the SQL oracles."""
    cos = (Q @ C.T).astype(np.float64) / (qn[:, None] * _norms(C, cid)[None, :])
    cos[qid[:, None] == cid[None, :]] = -np.inf  # mask self-pairs
    kk = min(k, cos.shape[1])
    # lexsort's last key is primary; -cos negation is exact for doubles
    take = np.lexsort((np.broadcast_to(cid, cos.shape), -cos), axis=1)[:, :kk]
    out_s = np.take_along_axis(cos, take, axis=1).ravel()
    keep = out_s > -np.inf
    return pd.DataFrame(
        {"query_id": np.repeat(qid, kk)[keep],
         "corpus_id": cid[take.ravel()][keep],
         "cos_sim": out_s[keep]}
    )


def _final_topk(cand: DataFrame, k: int) -> DataFrame:
    """Global per-query top-k of (query_id, corpus_id, cos_sim) rows under
    (cos_sim DESC, corpus_id ASC), ranked 1..k."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("corpus_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "rank", "cos_sim")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self), in the
    SERVING shape: the query batch is collected on the driver (it must be
    small — the callers pass at most 100 queries) and rides into a
    ``mapInPandas`` over the corpus as numpy literals. Each corpus batch
    computes one int64 ``C @ Q.T`` and emits only its per-query partial
    top-k, so the final window sees ≤ k rows per (query, corpus batch); the
    corpus never joins or shuffles. An empty query batch returns no rows.

    Both sides must be quantized integer vectors with integral ids; ids come
    back as bigint."""
    _require_integral(corpus, vec_col, id_col, "brute_force_topk")
    _require_integral(queries, vec_col, id_col, "brute_force_topk")
    qrows = queries.select(id_col, vec_col).collect()
    qid = np.array([r[0] for r in qrows], dtype=np.int64)
    dim = len(qrows[0][1]) if qrows else 0
    Q = np.array([r[1] for r in qrows], dtype=np.int64).reshape(len(qrows), dim)
    qn = _norms(Q, qid)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qid) == 0:
                continue
            C = np.stack(pdf["__v__"].to_numpy()).astype(np.int64, copy=False)
            yield _cosine_topk(qid, Q, qn, pdf["__id__"].to_numpy(), C, k)

    cand = corpus.select(
        F.col(id_col).alias("__id__"), F.col(vec_col).alias("__v__")
    ).mapInPandas(score, _TOPK_SCHEMA)
    return _final_topk(cand, k)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    num_planes: int,
    dim: int,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    Cosine is computed on the quantized integer vectors (exact dot/norms,
    double only at the final division) so results are bit-reproducible."""
    def prep(
        df: DataFrame, id_alias: str, vec_alias: str, norm_alias: str
    ) -> DataFrame:
        qz = quantize(F.col(vec_col))
        out = df.select(
            F.col(id_col).alias(id_alias),
            qz.cast("array<double>").alias(vec_alias),
            lsh_bucket(qz, num_planes, dim).alias("bucket"),
        )
        return with_checked_norm(
            out, F.col(vec_alias), F.col(id_alias), norm_alias, quantized=True
        )

    c = prep(corpus, "corpus_id", "cv", "cn")
    q = prep(queries, "query_id", "qv", "qn").withColumnRenamed(
        "bucket", "qbucket"
    )
    scored = (
        c.join(F.broadcast(q), (F.col("bucket") == F.col("qbucket")) & (F.col("corpus_id") != F.col("query_id")))
        .select(
            "query_id",
            "corpus_id",
            (
                dot_product(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos_sim"),
        )
    )
    return _final_topk(scored, k)


def embedding_lsh_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    dim: int,
    num_planes: int = 8,
    num_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup, candidate-generation first.

    ``num_tables`` independent random-hyperplane bucket tables block the
    corpus (each row lands in one bucket per table); the exact quantized
    cosine (``dedup.cosine``) runs ONLY on same-bucket pairs — the all-pairs
    cartesian never appears in the plan. Recall amplifies as
    1-(1-p^planes)^tables; high-cosine pairs collide in at least one table
    with overwhelming probability. The bucket join is a single hash-shuffle
    on (table, bucket); a viral duplicate cluster (hot bucket) is AQE-split.
    Input vectors must already be quantized integers (``quantize``)."""
    v = df.select(
        F.col(id_col),
        F.col(vec_col).alias("qv"),  # integer vector: lsh_bucket folds BIGINT
        F.col(vec_col).cast("array<double>").alias("qd"),
        vector_norm(F.col(vec_col)).alias("qn"),
    )
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket(
                    F.col("qv"), num_planes, dim, plane_offset=t * num_planes
                ).alias("bkt"),
            )
            for t in range(num_tables)
        ]
    )
    flat = v.select(id_col, "qd", "qn", F.explode(tables).alias("b")).select(
        id_col, "qd", "qn", F.col("b.tbl").alias("tbl"), F.col("b.bkt").alias("bkt")
    )
    a, b = flat.alias("a"), flat.alias("b")
    cos = dot_product(F.col("a.qd"), F.col("b.qd")) / (
        F.col("a.qn") * F.col("b.qn")
    )
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        # a pair colliding in several tables appears once per collision; the
        # cosine is a pure function of the pair so distinct() collapses them
        .distinct()
    )


def _sq_l2(a: Column, b: Column) -> Column:
    """Exact squared L2 distance between two quantized integer vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ivf_centroids(corpus: DataFrame, id_col: str, vec_col: str, num_cells: int) -> DataFrame:
    """Deterministic coarse quantizer: the ``num_cells`` corpus rows with the
    smallest md5(id) — a seeded pseudo-random sample both engines can
    reproduce — numbered 1..C in id order. Returns (cid, centv)."""
    sample = (
        corpus.select(F.col(id_col).alias("cvid"), F.col(vec_col).alias("centv"))
        .orderBy(F.md5(F.col("cvid").cast("string")), F.col("cvid"))
        .limit(num_cells)
    )
    w = Window.orderBy("cvid")
    return sample.withColumn("cid", F.row_number().over(w)).select("cid", "centv")


def ivf_probe_udf(cent_rows: list[tuple[int, list[int]]], nprobe: int):
    """Arrow-vectorized probe kernel: per batch, one int64 matmul
    ``X @ C.T`` + argsort — ~1000× the throughput of interpreted per-element
    expression eval, and still EXACT integer arithmetic (identical argmin to
    the SQL oracles, ties to the smaller cid via stable sort over
    cid-ordered centroids). Takes quantized integer vectors: callers check
    the column type with ``_require_integral`` first."""
    rows = sorted(cent_rows)  # cid order — makes stable-sort ties pick smaller cid
    C = np.array([cv for _, cv in rows], dtype=np.int64)
    cids = np.array([cid for cid, _ in rows], dtype=np.int64)
    c_sq = (C * C).sum(axis=1)

    @F.pandas_udf("array<long>")
    def probe(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.int64, copy=False)
        # ||x-c||^2 = ||x||^2 - 2 x·c + ||c||^2 ; the ||x||^2 term is
        # constant per row so it can't change the argmin — skip it
        d = c_sq - 2 * (X @ C.T)
        if nprobe == 1:
            out = cids[np.argmin(d, axis=1)][:, None]
        else:
            out = cids[np.argsort(d, axis=1, kind="stable")[:, :nprobe]]
        return pd.Series(list(out))

    return probe


def ivf_assign(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str, nprobe: int
) -> DataFrame:
    """Assign each (id, vec) row its ``nprobe`` nearest cells by exact integer
    L2 (ties broken by smaller cid). The centroid table is materialized
    driver-side (metadata-sized, like any coarse quantizer — the faiss IVF
    regime) and shipped into an Arrow-batched argmin kernel — assignment adds
    ZERO shuffles and ZERO joins to the plan: a narrow map stage."""
    _require_integral(df, vec_col, None, "ivf_assign")
    cent_rows = [(r["cid"], r["centv"]) for r in centroids.collect()]
    probes = ivf_probe_udf(cent_rows, nprobe)(F.col(vec_col))
    if nprobe == 1:
        return df.select(id_col, F.element_at(probes, 1).alias("cell"))
    return df.select(id_col, F.explode(probes).alias("cell"))


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    num_cells: int,
    nprobe: int,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: corpus rows live in their single nearest
    cell; each query probes its ``nprobe`` nearest cells; exact (quantized-
    integer) cosine re-ranks candidates within the probed cells.

    Execution is the faiss shape: the two sides COGROUP on the cell id and
    each cell re-ranks as ONE int64 matrix multiply ``Q @ C.T`` + per-query
    partial top-k inside an ``applyInPandas`` kernel; only ≤ k rows per
    (query, probed cell) leave the kernel, so the final global top-k window
    sees k*nprobe rows per query instead of the whole candidate set. Vectors
    ship once per cell (not once per pair), and the shuffle after the kernel
    is output-sized, not candidate-sized. The same plan serves a small query
    batch and a corpus-sized query set (the offline k-NN-graph job).

    ``centroids``: pass a TRAINED coarse quantizer (e.g. the
    ``kmeans_lloyd`` output) instead of the default md5-seeded corpus
    sample — same cost per query, tighter cells, better recall (the faiss
    IVF training step). Must be ``(cid, quantized-centroid)`` pairs.

    Both sides must be quantized integer vectors with integral ids; ids come
    back as bigint. Zero-norm vectors in a probed cell raise ValueError
    naming the ids (cosine is undefined there)."""
    _require_integral(corpus, vec_col, id_col, "ivf_ann_topk")
    _require_integral(queries, vec_col, id_col, "ivf_ann_topk")
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    # coarse quantizer: one tiny driver-side action (num_cells rows), then a
    # literal in every assignment kernel — no quantizer join
    cent_rows = centroids if centroids is not None else [
        (r["cid"], r["centv"])
        for r in ivf_centroids(corpus, id_col, vec_col, num_cells).collect()
    ]
    c_cell = c.withColumn(
        "cell", F.element_at(ivf_probe_udf(cent_rows, 1)(F.col("cv")), 1)
    )
    q_cell = q.withColumn(
        "cell", F.explode(ivf_probe_udf(cent_rows, nprobe)(F.col("qv")))
    )

    def rerank(qs: pd.DataFrame, cs: pd.DataFrame) -> pd.DataFrame:
        # a cell no query probes never reaches the norm check
        if len(qs) == 0 or len(cs) == 0:
            return _NO_ROWS
        Q = np.stack(qs["qv"].to_numpy()).astype(np.int64, copy=False)
        C = np.stack(cs["cv"].to_numpy()).astype(np.int64, copy=False)
        qid = qs["query_id"].to_numpy()
        return _cosine_topk(qid, Q, _norms(Q, qid), cs["corpus_id"].to_numpy(), C, k)

    cand = (
        q_cell.groupBy("cell")
        .cogroup(c_cell.groupBy("cell"))
        .applyInPandas(rerank, _TOPK_SCHEMA)
    )
    return _final_topk(cand, k)


def kmeans_lloyd(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
) -> tuple[list[tuple[int, list[int]]], DataFrame]:
    """Deterministic Lloyd's k-means over quantized integer vectors — the
    clustering stage of semantic dedup / corpus curation, and the trained
    upgrade of the IVF coarse quantizer.

    Engine-portable by construction: init is the md5-seeded corpus sample
    (``ivf_centroids`` — no RNG state), assignment is exact integer L2 with
    ties to the smaller cid, and the centroid update is floor(sum/count)
    per dimension — integers in, integers out, so a SQL oracle replays the
    identical trajectory. Clusters that lose all members drop out (both
    engines drop them in the update group-by).

    Distribution: per iteration, one narrow Arrow-kernel assignment map +
    one two-level hash aggregate (posexplode → (cell, dim) partial sums);
    only the k×dim centroid matrix (metadata-sized) ever reaches the
    driver — the classic Spark ML k-means shape. The corpus is persisted
    for the duration (init + every iteration + the returned assignment all
    read it; recomputing the upstream scan per Lloyd action is the classic
    iterative-algorithm mistake) — the caller owns unpersisting via the
    returned frame's lineage. Returns the final ``(cid, centroid)`` list
    and the final assignment DataFrame ``(id_col, vec_col, cell)``."""
    _require_integral(corpus, vec_col, None, "kmeans_lloyd")
    corpus = corpus.persist()
    cent_rows = [
        (r["cid"], r["centv"])
        for r in ivf_centroids(corpus, id_col, vec_col, k).collect()
    ]

    def assign(cents: list[tuple[int, list[int]]]) -> DataFrame:
        return corpus.withColumn(
            "cell", F.element_at(ivf_probe_udf(cents, 1)(F.col(vec_col)), 1)
        )

    for _ in range(iters):
        upd = (
            assign(cent_rows)
            .select("cell", F.posexplode(vec_col).alias("pos", "q"))
            .groupBy("cell", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
            .groupBy("cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("pairs"),
                F.max("n").alias("n"),
            )
        )
        # Python // is floor division — identical to the oracle's
        # CAST(floor(s * 1.0 / n) AS BIGINT) because |s| <= ~2^22 keeps the
        # double quotient more than 1/n away from any wrong integer
        cent_rows = sorted(
            (int(r["cell"]), [int(p["s"]) // int(r["n"]) for p in r["pairs"]])
            for r in upd.collect()
        )
    return cent_rows, assign(cent_rows)


def mean_pool(
    df: DataFrame, group_cols: list[str], qv_col: str = "qv", scale: int = 1000
) -> DataFrame:
    """Element-wise mean-pooling of quantized embedding vectors per group —
    the chunk→document / document→corpus pooling stage of a training-data
    pipeline (and the centroid-update step of k-means, run once).

    Distributed as posexplode → per-(group, dim) integer partial sums →
    per-group re-assembly ordered by dim: two key-partitioned hash
    aggregates, no collect, no UDF. Integer sums keep every intermediate
    exact, so the pooled vector and its norm are identical under any
    partitioning; the only float ops are the final per-dim division and the
    norm's sqrt. Output: group cols, ``n_vecs``, ``mean_vec``
    (array<double>), ``mean_norm`` (L2 of the pooled vector, from the exact
    integer sum of squares)."""
    ex = df.select(*group_cols, F.posexplode(qv_col).alias("pos", "q"))
    per_pos = ex.groupBy(*group_cols, "pos").agg(
        F.sum("q").alias("sq"), F.count("*").alias("n")
    )
    denom = F.col("n_vecs") * scale
    return (
        per_pos.groupBy(*group_cols)
        .agg(
            F.max("n").alias("n_vecs"),
            F.sum(F.col("sq") * F.col("sq")).alias("__ssq__"),
            F.array_sort(F.collect_list(F.struct("pos", "sq"))).alias("__pairs__"),
        )
        .select(
            *group_cols,
            "n_vecs",
            F.transform(
                "__pairs__", lambda p: p["sq"].cast("double") / denom
            ).alias("mean_vec"),
            (F.sqrt(F.col("__ssq__").cast("double")) / denom).alias("mean_norm"),
        )
    )


def _pq_adc_arrow_topk(
    encoded, qrows, codebook, k: int,
    qid_type: str = "bigint", cid_type: str = "bigint",
):
    """Arrow ADC over an encoded corpus — the faiss execution shape for
    product quantization: per query ONE (subspaces × codes) int64 lookup
    table of squared subvector-to-centroid distances (metadata-sized:
    Q × M × K longs), then each corpus batch scores all queries with a
    vectorized table GATHER (distance = Σ_m LUT[m, code_m]) and emits only
    its per-query partial top-k — ≤ k rows per query per batch, so the
    final global top-k window sees batch-count × k rows per query instead
    of the full Q × corpus pair space the expression path materializes.
    Bit-identical to the expression ADC: same exact int64 sums, same
    (dist, corpus_id) order, same self-pair exclusion."""
    import numpy as np
    import pandas as pd

    m, _, ds = codebook.shape
    qid = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    if len(qrows):
        Qs = np.stack(
            [np.asarray(r["qv"], dtype=np.int64) for r in qrows]
        ).reshape(len(qrows), m, ds)
        # LUT[q, m, code] — exact int64 squared distances
        lut = ((Qs[:, :, None, :] - codebook[None, :, :, :]) ** 2).sum(-1)
    sentinel = np.iinfo(np.int64).max

    def kernel(it):
        for pdf in it:
            if len(pdf) == 0 or len(qid) == 0:
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64) - 1
            cid = pdf["corpus_id"].to_numpy()
            d = lut[:, 0, codes[:, 0]]
            for sub in range(1, m):
                d = d + lut[:, sub, codes[:, sub]]
            # exclude self-pairs exactly like the expression join's
            # corpus_id != query_id predicate
            d = np.where(qid[:, None] == cid[None, :], sentinel, d)
            kk = min(k, d.shape[1])
            order = np.lexsort(
                (np.broadcast_to(cid, d.shape), d), axis=1
            )[:, :kk]
            out_d = np.take_along_axis(d, order, axis=1).ravel()
            keep = out_d < sentinel
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qid, kk)[keep],
                    "corpus_id": cid[order.ravel()][keep],
                    "dist": out_d[keep],
                }
            )

    cand = encoded.mapInPandas(kernel, "query_id long, corpus_id long, dist long")
    w = Window.partitionBy("query_id").orderBy("dist", "corpus_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        # the kernel computes in int64; cast ids back to the INPUT id types
        # so adc="auto" returns one schema regardless of which strategy the
        # query-batch size picked (ADVICE r12: a downstream union/schema
        # comparison must not depend on data volume)
        .select(
            F.col("query_id").cast(qid_type).alias("query_id"),
            F.col("corpus_id").cast(cid_type).alias("corpus_id"),
            "rank",
            "dist",
        )
    )


def pq_encode_udf(codebook):
    """Arrow-batched PQ encoder: per batch, reshape to (n, M, ds) and take
    the per-subspace argmin against the (M, K, ds) codebook — exact int64
    arithmetic; numpy argmin's first-occurrence tie rule = smallest code,
    matching the SQL oracle's (distance, k) ordering."""
    C = codebook  # np.ndarray (M, K, ds) int64
    m, _, ds = C.shape

    @F.pandas_udf("array<long>")
    def enc(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.int64, copy=False)
        Xs = X.reshape(len(X), m, ds)
        d = ((Xs[:, :, None, :] - C[None, :, :, :]) ** 2).sum(-1)
        return pd.Series(list(d.argmin(-1) + 1))  # 1-based codes (SQL k)

    return enc


# Query-batch size above which pq_ann_topk's "auto" ADC stays on the
# expression path: the Arrow kernel ships the query batch (and its
# per-query lookup tables) to every corpus partition, so it is the
# SERVING shape — bounded query batches against a large encoded corpus.
_PQ_ARROW_QUERY_CAP = 4096


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    num_codes: int = 16,
    num_subspaces: int = 8,
    centroids: list[tuple[int, list[int]]] | None = None,
    adc: str = "auto",
) -> DataFrame:
    """Product-quantization ANN — the memory-compression scale path: the
    corpus is ENCODED once into ``num_subspaces`` small integer codes
    (64 dims × 8 bytes → 8 codes: a 97% memory cut at float32 dim-64, the
    move that lets a 100 TB embedding corpus live in executor RAM), and
    queries scan codes with ADC (asymmetric distance): per subspace, the
    distance to the corpus row is a codebook LOOKUP, never a full-vector
    arithmetic pass. Codebook = the md5-seeded corpus sample (deterministic,
    shared with IVF init) sliced per subspace; everything stays exact
    integer so results hash-match the SQL oracle. The codebook is
    metadata-sized: it ships as literals into both the Arrow encode kernel
    and the ADC expression — no quantizer join anywhere.

    ``centroids``: a precomputed codebook source (same shape as
    ``ivf_ann_topk``'s) — pass it when searching a FILTERED corpus with an
    index trained on the full one (production never re-trains the codebook
    per predicate; a per-predicate codebook would also change every code
    and silently re-encode the corpus).

    ``adc``: ``"auto"`` (default) picks the ADC execution strategy by
    query-batch size — a batch that fits ``_PQ_ARROW_QUERY_CAP`` runs the
    Arrow LUT kernel (``mapInPandas`` over the encoded corpus: per query a
    tiny (subspaces × codes) squared-distance lookup table, per corpus
    batch a vectorized table-gather + per-batch partial top-k, so only
    ≤ k rows per query per batch leave the kernel — the faiss ADC shape,
    measured ~9× faster at the 100×-corpus probe), while an over-cap batch
    stays on the per-pair expression path (the kernel would broadcast an
    over-sized LUT set). Both strategies are bit-identical by
    construction: distances are the same exact int64 sums ordered by the
    same (dist, corpus_id) key — verified by the shared DuckDB oracle hash
    and an equivalence test. Pass ``"expression"`` or ``"arrow"`` to force
    one explicitly."""
    if adc not in ("auto", "expression", "arrow"):
        raise ValueError(f"adc must be auto|expression|arrow, got {adc!r}")
    cent_rows = (
        sorted(centroids)
        if centroids is not None
        else sorted(
            (r["cid"], r["centv"])
            for r in ivf_centroids(corpus, id_col, vec_col, num_codes).collect()
        )
    )
    if centroids is not None and len(cent_rows) != num_codes:
        raise ValueError(
            f"precomputed codebook has {len(cent_rows)} centroids but "
            f"num_codes={num_codes}; pass a matching num_codes (it is not "
            "inferred) or the ADC code range silently diverges from encode"
        )
    dim = len(cent_rows[0][1])
    if dim % num_subspaces != 0:
        raise ValueError(
            f"vector dim {dim} is not divisible by num_subspaces={num_subspaces}; "
            "trailing dimensions would be silently dropped from encode and ADC"
        )
    ds = dim // num_subspaces
    C = np.array([cv for _, cv in cent_rows], dtype=np.int64)  # (K, dim)
    codebook = np.stack(
        [C[:, m * ds : (m + 1) * ds] for m in range(num_subspaces)]
    )  # (M, K, ds)

    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"))
    encoded = c.withColumn("codes", pq_encode_udf(codebook)(F.col("cv"))).select(
        "corpus_id", "codes"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))

    # The Arrow kernel's LUT gather and output schema are integer-typed;
    # non-integer ids (string keys, uuids) stay on the type-generic
    # expression path — a previously-working call site must never regress
    # to a numpy cast error because the DEFAULT dispatch changed (review
    # r12). Explicit adc="arrow" with such ids raises with the remedy.
    cid_type = dict(corpus.dtypes)[id_col]
    qid_type = dict(queries.dtypes)[id_col]
    integral = ("bigint", "int", "smallint", "tinyint")
    integral_ids = cid_type in integral and qid_type in integral
    if adc == "arrow":
        if not integral_ids:
            raise ValueError(
                f"adc='arrow' requires an integral id column; {id_col!r} is "
                f"{cid_type} — use adc='expression'"
            )
        return _pq_adc_arrow_topk(
            encoded, q.collect(), codebook, k, qid_type, cid_type
        )
    if adc == "auto" and integral_ids:
        # bounded probe: limit() short-circuits, so sizing a huge query
        # frame costs one early-terminated job, never a full scan
        qrows = q.limit(_PQ_ARROW_QUERY_CAP + 1).collect()
        if len(qrows) <= _PQ_ARROW_QUERY_CAP:
            return _pq_adc_arrow_topk(
                encoded, qrows, codebook, k, qid_type, cid_type
            )

    cb_lit = F.lit([[[int(x) for x in row] for row in sub] for sub in codebook])
    pairs = encoded.join(F.broadcast(q), F.col("corpus_id") != F.col("query_id"))
    contribs = F.transform(
        F.sequence(F.lit(1), F.lit(num_subspaces)),
        lambda m: _sq_l2(
            F.slice(F.col("qv"), (m - 1) * ds + 1, ds),
            F.element_at(
                F.element_at(cb_lit, m),
                F.element_at(F.col("codes"), m).cast("int"),
            ),
        ),
    )
    adc = pairs.select(
        "query_id",
        "corpus_id",
        F.aggregate(contribs, F.lit(0).cast("long"), lambda a, x: a + x).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy("dist", "corpus_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "rank", "dist")
    )
