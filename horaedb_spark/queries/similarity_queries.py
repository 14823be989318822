"""Similarity-search queries (LLM-pipeline surface): brute-force cosine top-k
baseline and the LSH-bucketed approximate variant, both oracle-gated.

Cosine runs on quantized integer vectors (round(x*1000)): dot products and
norms stay exact integers (max |sum| ~2e7 << 2^53), so results are
bit-reproducible across engines and partitionings — the float-association
trap in distributed similarity search, solved by moving the inexactness to a
single final division."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from horaedb_spark.functions.similarity import (
    brute_force_topk,
    lsh_ann_topk,
    quantize,
)
from horaedb_spark.queries.registry import register
from horaedb_spark.queries.tables import load_table

_DIM = 64
_QV = "[CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) FOR x IN embedding]"
_DOT = "list_sum([a.qv[i] * b.qv[i] FOR i IN generate_series(1, 64)])"
_NORM_A = "sqrt(list_sum([a.qv[i] * a.qv[i] FOR i IN generate_series(1, 64)]))"
_NORM_B = "sqrt(list_sum([b.qv[i] * b.qv[i] FOR i IN generate_series(1, 64)]))"


# served by ann_bruteforce_topk under both registry names: the "_arrow" name
# predates the single Arrow kernel and stays for the bench set
_BRUTE_ORACLE = f"""
    WITH q AS (SELECT vec_id, {_QV} AS qv FROM embeddings)
    SELECT query_id, corpus_id, rank, cos_sim FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
             round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
      FROM q a JOIN q b ON b.vec_id != a.vec_id
      WHERE a.vec_id < 5
    ) WHERE rank <= 10
    ORDER BY query_id, rank
    """


@register("ann_bruteforce_topk_arrow", oracle=_BRUTE_ORACLE)
@register("ann_bruteforce_topk", oracle=_BRUTE_ORACLE)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for query vectors (vec_id < 5): the
    correctness baseline every ANN variant is measured against. The query
    batch rides into a mapInPandas over the corpus as numpy literals; each
    corpus batch does one int64 C @ Q.T and emits its per-query partial
    top-k — no join in the plan, the corpus scans once."""
    emb = load_table(spark, sf_dir, "embeddings")
    qemb = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    out = brute_force_topk(qemb, qemb.filter(F.col("vec_id") < 5), "qv", "vec_id", 10)
    return out.select(
        "query_id", "corpus_id", "rank", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("query_id", "rank")


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QV} AS qv FROM embeddings),
    planes AS (
      SELECT p, d, CASE WHEN substr(md5(p || ':' || d), 1, 1) < '8'
                        THEN 1 ELSE -1 END AS w
      FROM (SELECT unnest(generate_series(0, 7)) AS p) pp
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d) dd
    ), bits AS (
      SELECT q.vec_id, p,
             CASE WHEN sum(w * qv[d + 1]) >= 0 THEN '1' ELSE '0' END AS bit
      FROM q, planes GROUP BY q.vec_id, p
    ), buckets AS (
      SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket FROM bits GROUP BY vec_id
    ), v AS (
      SELECT q.vec_id, qv, bucket FROM q JOIN buckets USING (vec_id)
    )
    SELECT query_id, corpus_id, rank, cos_sim FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
             round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
      FROM v a JOIN v b ON a.bucket = b.bucket AND b.vec_id != a.vec_id
      WHERE a.vec_id < 20
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via 8-plane random-hyperplane LSH bucketing
    (queries: vec_id < 20): candidates limited to the query's bucket — the
    scale path where the corpus is bucket-partitioned and never fully
    crossed. Hyperplanes are md5-derived ±1 weights over quantized ints, so
    bucket assignment is integer-exact in any engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 20),
        "embedding",
        "vec_id",
        k=5,
        num_planes=8,
        dim=_DIM,
    )
    return out.select(
        "query_id", "corpus_id", "rank", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("query_id", "rank")


_SQL2 = "list_sum([(a.qv[i] - c.cv[i]) * (a.qv[i] - c.cv[i]) FOR i IN generate_series(1, 64)])"
_SQL2C = _SQL2  # integer L2 between q alias `a` and centroid alias `c`


def kmeans_oracle_ctes(
    k: int, iters: int, corpus_select: str, prefix: str = "", include_q: bool = True
) -> str:
    """DuckDB CTE chain replaying ``kmeans_lloyd`` exactly — md5-seeded init,
    integer-L2 argmin assignment (ties to the smaller cid), floor(sum/count)
    centroid update — ending in ``{prefix}afinal(vec_id, cid, d)`` (final
    assignment with its squared distance) with the final centroids in
    ``{prefix}c{iters}``. Shared by every clustering-derived oracle so the
    trajectory is verified once and reused. ``prefix`` namespaces the CTEs
    (so a query can embed the chain next to other CTEs); ``include_q=False``
    reuses an already-defined ``q`` corpus CTE."""
    p = prefix
    ctes = f"q AS ({corpus_select}),\n    " if include_q else ""
    ctes += f"""{p}seed AS (
      SELECT vec_id FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
    ),
    {p}c0 AS (
      SELECT row_number() OVER (ORDER BY q.vec_id) AS cid, q.qv AS cv
      FROM q JOIN {p}seed USING (vec_id)
    )"""
    prev = f"{p}c0"
    for t in range(1, iters + 1):
        ctes += f""", {p}a{t} AS (
      SELECT vec_id, cid FROM (
        SELECT a.vec_id, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY {_SQL2C}, c.cid) AS r
        FROM q a, {prev} c
      ) WHERE r = 1
    ), {p}c{t} AS (
      SELECT cid, list(CAST(floor(s * 1.0 / n) AS BIGINT) ORDER BY i) AS cv
      FROM (
        SELECT x.cid, i.i AS i, sum(a.qv[i.i]) AS s, count(*) AS n
        FROM {p}a{t} x JOIN q a USING (vec_id)
        CROSS JOIN (SELECT unnest(generate_series(1, {_DIM})) AS i) i
        GROUP BY x.cid, i.i
      ) GROUP BY cid
    )"""
        prev = f"{p}c{t}"
    ctes += f""", {p}afinal AS (
      SELECT vec_id, cid, d FROM (
        SELECT a.vec_id, c.cid, {_SQL2C} AS d,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY {_SQL2C}, c.cid) AS r
        FROM q a, {prev} c
      ) WHERE r = 1
    )"""
    return ctes



@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QV} AS qv FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, qv AS cv
      FROM q WHERE vec_id IN (
        SELECT vec_id FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
    ), pairs AS (
      SELECT a.vec_id, c.cid, {_SQL2} AS d FROM q a, cent c
    ), ranked AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
      FROM pairs
    ), cellof AS (
      SELECT vec_id, cid AS cell FROM ranked WHERE r = 1
    ), qprobe AS (
      SELECT vec_id, cid AS cell FROM ranked WHERE r <= 2 AND vec_id < 20
    )
    SELECT query_id, corpus_id, rank, cos_sim FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
             round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
      FROM q a
      JOIN qprobe p ON p.vec_id = a.vec_id
      JOIN cellof cf ON cf.cell = p.cell
      JOIN q b ON b.vec_id = cf.vec_id AND b.vec_id != a.vec_id
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF-Flat (queries: vec_id < 20): 16 md5-sampled
    centroids, exact integer-L2 cell assignment, nprobe=2 — the second scale
    path, where the cell id becomes a partition key and candidate generation
    is partition pruning. Arithmetic is integer-exact in any engine."""
    from horaedb_spark.functions.similarity import ivf_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qemb = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    out = ivf_ann_topk(
        qemb,
        qemb.filter(F.col("vec_id") < 20),
        "qv",
        "vec_id",
        k=5,
        num_cells=16,
        nprobe=2,
    )
    return out.select(
        "query_id", "corpus_id", "rank", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("query_id", "rank")


# served by ann_ivf_topk_large_queryset under both registry names: the
# "_arrow" name predates the single cogroup kernel and stays for the bench set
_IVF_KNN_GRAPH_ORACLE = f"""
    WITH q AS (SELECT vec_id, {_QV} AS qv FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, qv AS cv
      FROM q WHERE vec_id IN (
        SELECT vec_id FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
    ), pairs AS (
      SELECT a.vec_id, c.cid, {_SQL2} AS d FROM q a, cent c
    ), ranked AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
      FROM pairs
    ), cellof AS (
      SELECT vec_id, cid AS cell FROM ranked WHERE r = 1
    ), qprobe AS (
      SELECT vec_id, cid AS cell FROM ranked WHERE r <= 2
    )
    SELECT query_id, corpus_id, rank, cos_sim FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
             round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
      FROM q a
      JOIN qprobe p ON p.vec_id = a.vec_id
      JOIN cellof cf ON cf.cell = p.cell
      JOIN q b ON b.vec_id = cf.vec_id AND b.vec_id != a.vec_id
    ) WHERE rank <= 3
    ORDER BY query_id, rank
    """


@register("ann_ivf_topk_arrow", oracle=_IVF_KNN_GRAPH_ORACLE)
@register("ann_ivf_topk_large_queryset", oracle=_IVF_KNN_GRAPH_ORACLE)
def ann_ivf_topk_large_queryset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-SIZED query set shape (every vector queries its top-3
    neighbors — the offline k-NN-graph / near-dup-graph job). Queries and
    corpus COGROUP on the IVF cell id and each cell re-ranks as one int64
    ``Q @ C.T`` Arrow kernel with a per-query partial top-k — the faiss
    execution shape: no query broadcast, no per-pair fold, and only k rows
    per (query, probed cell) leave the kernel, so the final top-k window is
    output-sized. Integer-exact arithmetic, hash-matched against the SQL
    replay; the plan shape is pinned in tests/test_plans.py."""
    from horaedb_spark.functions.similarity import ivf_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qemb = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    out = ivf_ann_topk(
        qemb,
        qemb,  # EVERY corpus vector is a query
        "qv",
        "vec_id",
        k=3,
        num_cells=16,
        nprobe=2,
    )
    return out.select(
        "query_id", "corpus_id", "rank", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("query_id", "rank")


@register(
    "ann_recall_check",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QV} AS qv FROM embeddings),
    exact AS (
      SELECT query_id, corpus_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
        FROM q a JOIN q b ON b.vec_id != a.vec_id
        WHERE a.vec_id < 20
      ) WHERE rank <= 10
    ),
    planes AS (
      SELECT p, d, CASE WHEN substr(md5(p || ':' || d), 1, 1) < '8'
                        THEN 1 ELSE -1 END AS w
      FROM (SELECT unnest(generate_series(0, 7)) AS p) pp
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d) dd
    ), bits AS (
      SELECT q.vec_id, p,
             CASE WHEN sum(w * qv[d + 1]) >= 0 THEN '1' ELSE '0' END AS bit
      FROM q, planes GROUP BY q.vec_id, p
    ), buckets AS (
      SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket FROM bits GROUP BY vec_id
    ), v AS (
      SELECT q.vec_id, qv, bucket FROM q JOIN buckets USING (vec_id)
    ),
    lsh AS (
      SELECT query_id, corpus_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
        FROM v a JOIN v b ON a.bucket = b.bucket AND b.vec_id != a.vec_id
        WHERE a.vec_id < 20
      ) WHERE rank <= 10
    ),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, qv AS cv
      FROM q WHERE vec_id IN (
        SELECT vec_id FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
    ), pairs AS (
      SELECT a.vec_id, c.cid, {_SQL2} AS d FROM q a, cent c
    ), ranked AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
      FROM pairs
    ), cellof AS (
      SELECT vec_id, cid AS cell FROM ranked WHERE r = 1
    ), qprobe AS (
      SELECT vec_id, cid AS cell FROM ranked WHERE r <= 2 AND vec_id < 20
    ),
    ivf AS (
      SELECT query_id, corpus_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
        FROM q a
        JOIN qprobe p ON p.vec_id = a.vec_id
        JOIN cellof cf ON cf.cell = p.cell
        JOIN q b ON b.vec_id = cf.vec_id AND b.vec_id != a.vec_id
      ) WHERE rank <= 10
    ),
    {kmeans_oracle_ctes(16, 6, "", prefix="t", include_q=False)},
    rankedt AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
      FROM (SELECT a.vec_id, c.cid, {_SQL2C} AS d FROM q a, tc6 c)
    ), celloft AS (
      SELECT vec_id, cid AS cell FROM rankedt WHERE r = 1
    ), qprobet AS (
      SELECT vec_id, cid AS cell FROM rankedt WHERE r <= 2 AND vec_id < 20
    ),
    ivft AS (
      SELECT query_id, corpus_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
        FROM q a
        JOIN qprobet p ON p.vec_id = a.vec_id
        JOIN celloft cf ON cf.cell = p.cell
        JOIN q b ON b.vec_id = cf.vec_id AND b.vec_id != a.vec_id
      ) WHERE rank <= 10
    ),
    qids AS (SELECT DISTINCT query_id FROM exact),
    lh AS (SELECT e.query_id, count(*) AS h FROM exact e
           JOIN lsh USING (query_id, corpus_id) GROUP BY 1),
    ih AS (SELECT e.query_id, count(*) AS h FROM exact e
           JOIN ivf USING (query_id, corpus_id) GROUP BY 1),
    ith AS (SELECT e.query_id, count(*) AS h FROM exact e
            JOIN ivft USING (query_id, corpus_id) GROUP BY 1)
    SELECT 'ivf' AS method, count(*) AS n_queries,
           round(CAST(sum(coalesce(h, 0)) AS DOUBLE) / (10 * count(*)), 6)
             AS mean_recall
    FROM qids LEFT JOIN ih USING (query_id)
    UNION ALL
    SELECT 'ivf_trained', count(*),
           round(CAST(sum(coalesce(h, 0)) AS DOUBLE) / (10 * count(*)), 6)
    FROM qids LEFT JOIN ith USING (query_id)
    UNION ALL
    SELECT 'lsh', count(*),
           round(CAST(sum(coalesce(h, 0)) AS DOUBLE) / (10 * count(*)), 6)
    FROM qids LEFT JOIN lh USING (query_id)
    ORDER BY method
    """,
)
def ann_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of both ANN paths against the exact baseline, per method —
    the quality gate a production ANN deployment monitors. Every stage is
    integer-exact (quantized vectors, md5-derived planes/centroids), so the
    recall numbers are deterministic and hash-checkable, not just banded:
    hit counts are exact ints, one final division. At scale each branch is
    the already-bucketed/partition-pruned plan; the recall join itself is
    query-set-sized (tiny)."""
    from horaedb_spark.functions.similarity import ivf_ann_topk, kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    qemb = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    queries = qemb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(qemb, queries, "qv", "vec_id", 10).select(
        "query_id", "corpus_id"
    )
    lsh = lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < 20), "embedding", "vec_id",
        k=10, num_planes=8, dim=_DIM,
    ).select("query_id", "corpus_id")
    ivf = ivf_ann_topk(
        qemb, queries, "qv", "vec_id", k=10, num_cells=16, nprobe=2
    ).select("query_id", "corpus_id")
    # trained coarse quantizer: same cell count and probe budget, centroids
    # from 2 Lloyd iterations instead of the md5-seeded sample — the faiss
    # IVF training step, verified to lift recall at identical query cost
    cents, _assign = kmeans_lloyd(qemb, "vec_id", "qv", k=16, iters=6)
    ivf_t = ivf_ann_topk(
        qemb, queries, "qv", "vec_id", k=10, num_cells=16, nprobe=2,
        centroids=cents,
    ).select("query_id", "corpus_id")
    exact = exact.persist()
    qids = exact.select("query_id").distinct()

    def recall_row(approx: DataFrame, name: str) -> DataFrame:
        hits = exact.join(approx, ["query_id", "corpus_id"]).groupBy(
            "query_id"
        ).agg(F.count(F.lit(1)).alias("h"))
        per = qids.join(hits, "query_id", "left").select(
            F.coalesce("h", F.lit(0)).alias("h")
        )
        return per.agg(
            F.lit(name).alias("method"),
            F.count(F.lit(1)).alias("n_queries"),
            F.round(
                F.sum("h").cast("double") / (10 * F.count(F.lit(1))), 6
            ).alias("mean_recall"),
        )

    return (
        recall_row(ivf, "ivf")
        .unionByName(recall_row(ivf_t, "ivf_trained"))
        .unionByName(recall_row(lsh, "lsh"))
        .orderBy("method")
    )


@register(
    "embedding_mean_pool",
    oracle=f"""
    WITH q AS (SELECT label, {_QV} AS qv FROM embeddings),
    ex AS (SELECT label, i AS pos, qv[i] AS qe
           FROM q, unnest(generate_series(1, {_DIM})) AS t(i)),
    per_pos AS (SELECT label, pos, sum(qe) AS sq, count(*) AS n
                FROM ex GROUP BY 1, 2),
    pooled AS (SELECT label, max(n) AS n_vecs, sum(sq * sq) AS ssq,
                      max(CASE WHEN pos = 1 THEN sq END) AS sq0
               FROM per_pos GROUP BY label)
    SELECT label, n_vecs,
           floor(sqrt(CAST(ssq AS DOUBLE)) / (n_vecs * 1000) * 1000000 + 0.5)
             / 1000000 AS mean_norm,
           floor(CAST(sq0 AS DOUBLE) / (n_vecs * 1000) * 1000000 + 0.5)
             / 1000000 AS mean_d0
    FROM pooled ORDER BY label
    """,
)
def embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooled embedding per label class: the distributed pooling
    operator over quantized vectors — exact integer sums per dimension, so
    the pooled vector, first component, and L2 norm reproduce bit-identically
    on any engine/partitioning."""
    from horaedb_spark.functions.similarity import mean_pool

    emb = load_table(spark, sf_dir, "embeddings")
    qemb = emb.select("label", quantize(F.col("embedding")).alias("qv"))
    pooled = mean_pool(qemb, ["label"])
    r6 = lambda c: (F.floor(c * 1000000 + 0.5) / 1000000)
    return pooled.select(
        "label",
        "n_vecs",
        r6(F.col("mean_norm")).alias("mean_norm"),
        r6(F.element_at("mean_vec", 1)).alias("mean_d0"),
    ).orderBy("label")


@register(
    "ann_rerank_pipeline",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QV} AS qv FROM embeddings),
    planes AS (
      SELECT p, d, CASE WHEN substr(md5(p || ':' || d), 1, 1) < '8'
                        THEN 1 ELSE -1 END AS w
      FROM (SELECT unnest(generate_series(0, 7)) AS p) pp
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d) dd
    ), bits AS (
      SELECT q.vec_id, p,
             CASE WHEN sum(w * qv[d + 1]) >= 0 THEN '1' ELSE '0' END AS bit
      FROM q, planes GROUP BY q.vec_id, p
    ), buckets AS (
      SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket FROM bits GROUP BY vec_id
    ), v AS (
      SELECT q.vec_id, qv, bucket FROM q JOIN buckets USING (vec_id)
    ), cands AS (
      SELECT query_id, corpus_id, cos_sim FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
               {_DOT} / ({_NORM_A} * {_NORM_B}) AS cos_sim,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
        FROM v a JOIN v b ON a.bucket = b.bucket AND b.vec_id != a.vec_id
        WHERE a.vec_id < 10
      ) WHERE rank <= 5
    ), scored AS (
      SELECT query_id, corpus_id,
             round(0.7 * cos_sim
                   + 0.3 * (CAST(('0x' || substr(
                       md5(CAST(query_id AS VARCHAR) || ':'
                           || CAST(corpus_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                     / 4294967296.0), 6) AS fused_score
      FROM cands
    )
    SELECT query_id, corpus_id, fused_score, rerank_rank FROM (
      SELECT query_id, corpus_id, fused_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY fused_score DESC, corpus_id)
               AS rerank_rank
      FROM scored
    ) WHERE rerank_rank <= 3
    ORDER BY query_id, rerank_rank
    """,
)
def ann_rerank_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve -> rerank, the two-stage serving pipeline: LSH candidate
    generation (top-5 per query), then an Arrow-batched cross-encoder
    rerank stage via mapInPandas (stubbed with a deterministic md5-derived
    model score — the real model is a drop-in for the stub, the Spark-side
    batching/schema/fusion plumbing is what's under test), fused
    0.7*retrieval + 0.3*model, top-3 kept. Stage 2 touches only the
    candidate set (queries x 5 rows), never the corpus."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    from horaedb_spark.functions.similarity import lsh_ann_topk
    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings")
    cands = lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < 10), "embedding", "vec_id",
        k=5, num_planes=8, dim=_DIM,
    ).select("query_id", "corpus_id", "cos_sim")

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("corpus_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
            T.StructField("model_score", T.DoubleType()),
        ]
    )

    def rerank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["model_score"] = [
                int(hashlib.md5(f"{q}:{c}".encode()).hexdigest()[:8], 16)
                / 4294967296.0
                for q, c in zip(pdf["query_id"], pdf["corpus_id"])
            ]
            yield pdf

    scored = cands.mapInPandas(rerank, out_schema).withColumn(
        "fused_score",
        F.round(0.7 * F.col("cos_sim") + 0.3 * F.col("model_score"), 6),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("fused_score"), F.asc("corpus_id")
    )
    return (
        scored.withColumn("rerank_rank", F.row_number().over(w))
        .filter(F.col("rerank_rank") <= 3)
        .select("query_id", "corpus_id", "fused_score", "rerank_rank")
        .orderBy("query_id", "rerank_rank")
    )




@register(
    "embedding_kmeans",
    oracle=f"""
    WITH {kmeans_oracle_ctes(8, 2, f"SELECT vec_id, {_QV} AS qv FROM embeddings")}
    SELECT CAST(cid AS BIGINT) AS cid,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(d) AS BIGINT) AS inertia
    FROM afinal GROUP BY cid ORDER BY cid
    """,
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means (k=8, 2 iterations) over the corpus
    embeddings: md5-seeded init, Arrow-kernel integer-L2 assignment,
    floor-div centroid updates. Reports per-cluster size and exact integer
    inertia — the whole trajectory hash-matches the SQL oracle, so the
    clustering itself is verified, not just its shape. Per iteration the
    corpus is touched by one narrow map + one partial-aggregated shuffle;
    only k×dim integers reach the driver."""
    from horaedb_spark.functions.similarity import _sq_l2, kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    cents, assign = kmeans_lloyd(emb, "vec_id", "qv", k=8, iters=2)
    cdf = spark.createDataFrame(
        [(int(cid), [int(x) for x in cv]) for cid, cv in cents],
        "cid long, cv array<long>",
    )
    return (
        assign.join(F.broadcast(cdf), assign["cell"] == cdf["cid"])
        .select("cid", _sq_l2(F.col("qv"), F.col("cv")).alias("d"))
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("d").cast("long").alias("inertia"),
        )
        .orderBy("cid")
    )


_PQ_SUB_L2 = (
    "list_sum([(a.qv[(m.m - 1) * 8 + i] - c.cv[(m.m - 1) * 8 + i])"
    " * (a.qv[(m.m - 1) * 8 + i] - c.cv[(m.m - 1) * 8 + i])"
    " FOR i IN generate_series(1, 8)])"
)


def _pq_oracle(codes_source: str = "q", extra_ctes: str = "") -> str:
    """ONE copy of the PQ oracle (codebook sample -> per-subspace encode ->
    ADC -> top-k), parameterized by the CTE the corpus codes derive from —
    the baseline encodes the full corpus (``q``), the filtered variant an
    ``extra_ctes``-defined subset. Keeping the math in one string means a
    fix to the codebook/encode/ADC replica cannot silently diverge between
    the two registered oracles."""
    return f"""
    WITH q AS (SELECT vec_id, {_QV} AS qv FROM embeddings),
    cb AS (
      SELECT row_number() OVER (ORDER BY q.vec_id) AS k, q.qv AS cv
      FROM q JOIN (
        SELECT vec_id FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
      ) s USING (vec_id)
    ),
    {extra_ctes}codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT a.vec_id, m.m, c.k,
               row_number() OVER (
                 PARTITION BY a.vec_id, m.m
                 ORDER BY {_PQ_SUB_L2}, c.k) AS r
        FROM {codes_source} a, cb c, (SELECT unnest(generate_series(1, 8)) AS m) m
      ) WHERE r = 1
    ),
    adc AS (
      SELECT a.vec_id AS query_id, cd.vec_id AS corpus_id,
             sum({_PQ_SUB_L2.replace("m.m", "cd.m")}) AS dist
      FROM q a, codes cd
      JOIN cb c ON c.k = cd.code
      WHERE a.vec_id < 20 AND cd.vec_id != a.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, corpus_id, rank, dist FROM (
      SELECT query_id, corpus_id, CAST(dist AS BIGINT) AS dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, corpus_id) AS rank
      FROM adc
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """


@register("ann_pq_topk", oracle=_pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (M=8 subspaces, K=16 codes): the corpus is
    encoded once into 8 small integer codes per vector (the 100 TB memory
    play — encoded corpus ~= 1/30th of float32), queries rank candidates by
    ADC: per subspace the distance is a codebook lookup. The md5-seeded
    codebook keeps training out of the loop, so the entire encode+ADC
    pipeline is exact integer arithmetic the oracle replays bit-for-bit."""
    from horaedb_spark.functions.similarity import pq_ann_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    out = pq_ann_topk(
        emb, emb.filter(F.col("vec_id") < 20), "qv", "vec_id", k=5
    )
    return out.orderBy("query_id", "rank")


@register(
    "ann_pq_filtered_topk",
    oracle=_pq_oracle(
        codes_source="corpus",
        extra_ctes="""corpus AS (
      SELECT q.vec_id, q.qv FROM q
      JOIN documents d ON d.doc_id = q.vec_id AND d.lang = 'en'
    ),
    """,
    ),
)
def ann_pq_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered search on the PQ MEMORY path — completing the
    filtered family across all three strategies (brute baseline:
    ann_filtered_topk; IVF pruning: ann_ivf_filtered_topk; PQ compression:
    here). The codebook is trained on the FULL corpus (the encoded index
    already exists — production never re-trains per predicate, and a
    per-predicate codebook would change every code, silently re-encoding
    the corpus), only English documents are ENCODED into the candidate
    set (left-semi on doc_id = vec_id), and ADC ranks exact-integer
    distances over qualifying codes only. At 100 TB the predicate
    multiplies with the 97% PQ memory cut: the ADC scan touches
    filter-selectivity × encoded-corpus bytes."""
    from horaedb_spark.functions.similarity import ivf_centroids, pq_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qemb = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    # full-corpus codebook: 16 deterministic centroids (metadata-sized)
    cent_rows = [
        (r.cid, r.centv)
        for r in ivf_centroids(qemb, "vec_id", "qv", 16).collect()
    ]
    corpus = _english_corpus(qemb, docs)
    out = pq_ann_topk(
        corpus,
        qemb.filter(F.col("vec_id") < 20),
        "qv",
        "vec_id",
        k=5,
        centroids=cent_rows,
    )
    return out.orderBy("query_id", "rank")


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QV} AS qv FROM embeddings),
    ex AS (
      SELECT i AS dim, qv[i] AS v
      FROM q, unnest(generate_series(1, {_DIM})) AS t(i)
    ), rng AS (
      SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim
    ), quant AS (
      SELECT e.dim, e.v, r.mn, r.mx,
             CASE WHEN r.mx = r.mn THEN 0
                  ELSE CAST(floor((e.v - r.mn) * 255.0 / (r.mx - r.mn) + 0.5)
                            AS BIGINT) END AS q8
      FROM ex e JOIN rng r USING (dim)
    ), err AS (
      SELECT dim, mn, mx,
             abs(255 * (v - mn) - q8 * (mx - mn)) AS err_num
      FROM quant
    )
    SELECT dim, max(mn) AS mn, max(mx) AS mx, count(*) AS n,
           CAST(max(err_num) AS BIGINT) AS max_err_num,
           CAST(sum(err_num) AS BIGINT) AS sum_err_num,
           floor(sum(err_num) * 1000000.0 / (count(*) * 255 * 1000) + 0.5)
             / 1000000.0 AS mean_abs_err
    FROM err GROUP BY dim ORDER BY dim
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension affine int8 quantization (min/max calibration) with
    exact reconstruction-error accounting — the compression pass that cuts
    vector storage 4x before ANN serving. Everything stays on the integer
    grid: q8 codes floor-round a ratio of exact ints, and the error
    numerator |255*(v-mn) - q8*(mx-mn)| is an exact BIGINT, so max/mean
    reconstruction error reproduces bit-identically. Plan: posexplode ->
    per-dim min/max aggregate (64 rows, broadcast back) -> row-local
    quantize -> one final map-side-combined aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(quantize(F.col("embedding"))).alias("pos", "v")
    ).select((F.col("pos") + 1).alias("dim"), "v")
    rng = ex.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    quant = ex.join(F.broadcast(rng), "dim").withColumn(
        "q8",
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.floor(
                (F.col("v") - F.col("mn")) * F.lit(255.0)
                / (F.col("mx") - F.col("mn"))
                + F.lit(0.5)
            )
        ),
    )
    err = quant.withColumn(
        "err_num",
        F.abs(
            F.lit(255) * (F.col("v") - F.col("mn"))
            - F.col("q8") * (F.col("mx") - F.col("mn"))
        ),
    )
    return (
        err.groupBy("dim")
        .agg(
            F.max("mn").alias("mn"),
            F.max("mx").alias("mx"),
            F.count(F.lit(1)).alias("n"),
            F.max("err_num").alias("max_err_num"),
            F.sum("err_num").alias("sum_err_num"),
        )
        .select(
            "dim",
            "mn",
            "mx",
            "n",
            "max_err_num",
            "sum_err_num",
            (
                F.floor(
                    F.col("sum_err_num")
                    * F.lit(1000000.0)
                    / (F.col("n") * F.lit(255 * 1000))
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("mean_abs_err"),
        )
        .orderBy("dim")
    )


@register(
    "embedding_label_outliers",
    oracle=f"""
    WITH q AS (SELECT vec_id, label, {_QV} AS qv FROM embeddings),
    ex AS (
      SELECT vec_id, label, i AS dim, qv[i] AS v
      FROM q, unnest(generate_series(1, {_DIM})) AS t(i)
    ), cent AS (
      SELECT label, dim, CAST(sum(v) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM ex GROUP BY label, dim
    ), dist AS (
      -- ||n*v - sum||^2: n^2 times the squared distance to the class
      -- centroid, exact integers throughout
      SELECT e.vec_id, e.label, max(c.n) AS n,
             CAST(sum((c.n * e.v - c.s) * (c.n * e.v - c.s)) AS BIGINT) AS d2n2
      FROM ex e JOIN cent c ON e.label = c.label AND e.dim = c.dim
      GROUP BY e.vec_id, e.label
    ), ranked AS (
      SELECT label, vec_id, d2n2, n,
             row_number() OVER (PARTITION BY label
                                ORDER BY d2n2 DESC, vec_id) AS rk
      FROM dist
    )
    SELECT label, rk, vec_id,
           floor(sqrt(CAST(d2n2 AS DOUBLE)) / (n * 1000) * 1000000 + 0.5)
             / 1000000 AS centroid_dist
    FROM ranked WHERE rk <= 5
    ORDER BY label, rk
    """,
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding outliers: the 5 vectors farthest from their
    label's centroid — the mislabeled-data / contamination screen every
    embedding pipeline runs. Distances stay exact by scaling: ||n*v - sum||²
    is an integer (n²·dist²), so the ranking is bit-deterministic and only
    the final display value touches floating point (floor-rounded IEEE).
    Plan: posexplode → (label, dim) centroid sums (|labels|×64 rows,
    broadcast back) → per-vector exact distance aggregate → top-5 window
    per label (map-side WindowGroupLimit)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode(quantize(F.col("embedding"))).alias("pos", "v")
    ).select("vec_id", "label", (F.col("pos") + 1).alias("dim"), "v")
    cent = ex.groupBy("label", "dim").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    dist = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.max("n").alias("n"),
            F.sum(
                (F.col("n") * F.col("v") - F.col("s"))
                * (F.col("n") * F.col("v") - F.col("s"))
            ).alias("d2n2"),
        )
    )
    from pyspark.sql.window import Window as _W

    rk = F.row_number().over(
        _W.partitionBy("label").orderBy(F.desc("d2n2"), F.asc("vec_id"))
    )
    return (
        dist.withColumn("rk", rk)
        .filter(F.col("rk") <= 5)
        .select(
            "label",
            "rk",
            "vec_id",
            (
                F.floor(
                    F.sqrt(F.col("d2n2").cast("double"))
                    / (F.col("n") * F.lit(1000))
                    * F.lit(1000000)
                    + F.lit(0.5)
                )
                / F.lit(1000000)
            ).alias("centroid_dist"),
        )
        .orderBy("label", "rk")
    )


@register(
    "embedding_centroid_confusion",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {_QV} AS qv FROM embeddings
    ), sums AS (
      SELECT label, i, sum(qv[i]) AS s, count(*) AS n
      FROM q, (SELECT unnest(generate_series(1, 64)) AS i)
      GROUP BY label, i
    ), cents AS (
      SELECT label AS clabel,
             list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cv
      FROM sums GROUP BY label
    ), dists AS (
      SELECT q.vec_id, q.label, c.clabel,
             list_sum([(q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])
                       FOR i IN generate_series(1, 64)]) AS d,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY list_sum([(q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])
                                                   FOR i IN generate_series(1, 64)]),
                                         c.clabel) AS rn
      FROM q CROSS JOIN cents c
    )
    SELECT label AS true_label, clabel AS predicted_label,
           count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_checksum
    FROM dists WHERE rn = 1
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def embedding_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification eval: per-label integer centroids
    (exact sums, floor-div means), every embedding assigned to its closest
    label centroid by integer L2 (label-asc tie-break), confusion counts
    with id checksums — the embedding-quality report run before trusting a
    labeled corpus. The centroid table is |labels|×dim and broadcasts; the
    corpus is touched by two narrow passes. The per-vector k-way argmin is
    a small cross join against the 10-row centroid table, not a corpus
    self-join."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize(F.col("embedding")).alias("qv")
    )
    sums = emb.select(
        "label", F.posexplode("qv").alias("i", "x")
    ).groupBy("label", "i").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cents = (
        sums.withColumn(
            "e", F.floor(F.col("s").cast("double") / F.col("n")).cast("long")
        )
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("e")))
            ).alias("packed")
        )
        .select(
            F.col("label").alias("clabel"),
            F.transform("packed", lambda p: p["e"]).alias("cv"),
        )
    )
    d = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = emb.crossJoin(F.broadcast(cents)).withColumn("d", d)
    w = W.partitionBy("vec_id").orderBy("d", "clabel")
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.groupBy(
            F.col("label").alias("true_label"),
            F.col("clabel").alias("predicted_label"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vec_id").cast("long").alias("id_checksum"),
        )
        .orderBy("true_label", "predicted_label")
    )


def _english_corpus(qemb: DataFrame, docs: DataFrame) -> DataFrame:
    """The shared metadata pre-filter of the two filtered-search queries:
    corpus vectors whose document (doc_id = vec_id) is English — a
    left-semi hash join, so excluded vectors are never scored. One
    definition keeps the brute baseline and the IVF path filtering the
    same candidate universe."""
    return qemb.join(
        docs.filter(F.col("lang") == "en").select(
            F.col("doc_id").alias("vec_id")
        ),
        "vec_id",
        "left_semi",
    )


@register(
    "ann_filtered_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QV} AS qv FROM embeddings),
    corpus AS (
      SELECT q.vec_id, q.qv FROM q
      JOIN documents d ON d.doc_id = q.vec_id AND d.lang = 'en'
    )
    SELECT query_id, corpus_id, rank, cos_sim FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
             round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
      FROM q a JOIN corpus b ON b.vec_id != a.vec_id
      WHERE a.vec_id < 5
    ) WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED vector search — the production ANN shape (a
    predicate on document metadata composed with top-k similarity): the
    corpus side is PRE-filtered to English documents via a left-semi join
    on the documents table (vec_id = doc_id in the testdata), then the
    exact cosine top-10 runs over only the qualifying vectors. Pre-filter
    beats post-filter both for correctness (k survivors guaranteed, not
    k-minus-filtered) and at 100 TB (the similarity kernel never scores a
    vector the predicate excludes; the semi-join is a hash join on the id,
    and the filtered corpus still never shuffles until the final per-query
    top-k). At IVF scale the same pre-filter composes in front of the
    centroid probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qemb = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    corpus = _english_corpus(qemb, docs)
    out = brute_force_topk(
        corpus, qemb.filter(F.col("vec_id") < 5), "qv", "vec_id", 10
    )
    return out.select(
        "query_id", "corpus_id", "rank", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("query_id", "rank")


@register(
    "ann_ivf_filtered_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QV} AS qv FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, qv AS cv
      FROM q WHERE vec_id IN (
        SELECT vec_id FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
    ), pairs AS (
      SELECT a.vec_id, c.cid, {_SQL2} AS d FROM q a, cent c
    ), ranked AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
      FROM pairs
    ), cellof AS (
      SELECT r1.vec_id, r1.cid AS cell FROM ranked r1
      JOIN documents d ON d.doc_id = r1.vec_id AND d.lang = 'en'
      WHERE r1.r = 1
    ), qprobe AS (
      SELECT vec_id, cid AS cell FROM ranked WHERE r <= 2 AND vec_id < 20
    )
    SELECT query_id, corpus_id, rank, cos_sim FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
             round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC, b.vec_id) AS rank
      FROM q a
      JOIN qprobe p ON p.vec_id = a.vec_id
      JOIN cellof cf ON cf.cell = p.cell
      JOIN q b ON b.vec_id = cf.vec_id AND b.vec_id != a.vec_id
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ann_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered search on the IVF SCALE PATH: the coarse quantizer
    is trained on the FULL corpus (the index already exists — production
    never re-trains per predicate), the candidate set is the probed cells
    INTERSECTED with the metadata pre-filter (English documents, left-semi
    join on doc_id = vec_id), and the exact cosine re-rank scores only
    qualifying vectors. Complements ann_filtered_topk (the brute
    baseline): at 100 TB the filter composes in front of the cell-pruned
    candidate generation, so selectivity multiplies with nprobe/cells
    pruning instead of paying a full scan."""
    from horaedb_spark.functions.similarity import ivf_ann_topk, ivf_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qemb = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    # full-corpus index: 16 deterministic centroids (metadata-sized collect)
    cent_rows = [
        (r.cid, r.centv)
        for r in ivf_centroids(qemb, "vec_id", "qv", 16).collect()
    ]
    corpus = _english_corpus(qemb, docs)
    out = ivf_ann_topk(
        corpus,
        qemb.filter(F.col("vec_id") < 20),
        "qv",
        "vec_id",
        k=5,
        num_cells=16,
        nprobe=2,
        centroids=cent_rows,
    )
    return out.select(
        "query_id", "corpus_id", "rank", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("query_id", "rank")
