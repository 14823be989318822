"""Data-scaling probe: measure representative operators at 1x and Nx the
sf0.1 data volume and report wall-time ratios.

The point is evidence for the 100 TB design argument in SCALING.md: an
operator whose plan is scale-sound (partial aggregation, broadcast dims,
banded pair spaces, no single-partition stages) should scale ~linearly in
rows on fixed cores; anything super-linear at 10x is a red flag long
before a cluster run. The Nx frames are the sf0.1 parquet self-unioned
with shifted entity ids (disjoint users/documents, same distributions) —
a measurement input only, never a correctness oracle input.

Run:  python scripts/scale_probe.py [--mult 10] [--sf /root/testdata/sf0.1]
Prints one JSON line: {"probe": ..., "mult": N, "ops": {name: {t1, tN, ratio}}}.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from horaedb_spark.core.session import get_spark  # noqa: E402
from horaedb_spark.functions.similarity import quantize  # noqa: E402
from horaedb_spark.queries.tables import events_ms, load_table  # noqa: E402


def _replicate(spark, df: DataFrame, mult: int, shift_cols: list[str]) -> DataFrame:
    """mult disjoint copies of df: each id column in shift_cols moves by
    copy_index * (max+1), so entity spaces (users, documents, vectors)
    stay disjoint while every distribution is preserved. A broadcast
    crossJoin against range(mult), NOT an N-way union — at mult=100 a
    100-branch union plan costs Catalyst quadratic analysis time and
    produces a 100-subtree scan; one nested-loop join against a 100-row
    broadcast is the plan shape that survives any multiplier."""
    maxes = df.agg(*[F.max(c).alias(c) for c in shift_cols]).first()
    out = df.crossJoin(
        F.broadcast(spark.range(mult).withColumnRenamed("id", "__copy__"))
    )
    for c in shift_cols:
        out = out.withColumn(c, F.col(c) + F.col("__copy__") * (maxes[c] + 1))
    return out.drop("__copy__")


def _scaled_events(spark, sf_dir: str, mult: int, path: str) -> str:
    ev = events_ms(spark, sf_dir).select(
        "event_id", "ts_ms", "user_id", "event_type", "value"
    )
    _replicate(spark, ev, mult, ["event_id", "user_id"]).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def _scaled_docs(spark, sf_dir: str, mult: int, path: str) -> str:
    docs = load_table(spark, sf_dir, "documents")
    _replicate(spark, docs, mult, ["doc_id"]).write.mode("overwrite").parquet(path)
    return path


def _time(fn) -> float:
    t0 = time.perf_counter()
    df = fn()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--probe",
        default="scale",
        choices=(
            "scale", "mirror", "ann_filtered", "prune", "spans", "ingest",
            "queries",
        ),
    )
    ap.add_argument("--segments", type=int, default=120)
    args = ap.parse_args()
    spark = get_spark(app_name="scale_probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if args.probe == "mirror":
        out = mirror_restart_probe(spark, n_segments=args.segments)
        print(json.dumps({"probe": "mirror_restart", **out}))
        return
    if args.probe == "prune":
        out = prune_probe(spark, args.sf, args.mult)
        print(json.dumps({"probe": "prune_scaling", "mult": args.mult, "ops": out}))
        return
    if args.probe == "spans":
        out = spans_probe(spark, args.sf, args.mult)
        print(json.dumps({"probe": "spans_scaling", "mult": args.mult, "ops": out}))
        return
    if args.probe == "queries":
        out = queries_probe(spark, args.sf, args.mult)
        print(json.dumps({"probe": "queries_scaling", "mult": args.mult, "ops": out}))
        return
    if args.probe == "ingest":
        out = ingest_probe(spark, args.sf, args.mult)
        print(json.dumps({"probe": "ingest_scaling", "mult": args.mult, "ops": out}))
        return
    if args.probe == "ann_filtered":
        out = ann_filtered_probe(spark, args.sf, args.mult)
        print(
            json.dumps(
                {"probe": "ann_filtered_scaling", "mult": args.mult, "ops": out}
            )
        )
        return

    base = tempfile.mkdtemp(prefix="scale_probe_")
    ev1 = events_ms(spark, args.sf).select(
        "event_id", "ts_ms", "user_id", "event_type", "value"
    )
    evN = spark.read.parquet(
        _scaled_events(spark, args.sf, args.mult, f"{base}/events")
    )
    docs1 = load_table(spark, args.sf, "documents")
    docsN = spark.read.parquet(
        _scaled_docs(spark, args.sf, args.mult, f"{base}/documents")
    )

    def rate_agg(ev: DataFrame):
        # the metric hot path: per-series day-bucket rate + cohort sum
        from horaedb_spark.functions import promql

        s = ev.select(
            F.col("event_type").alias("name"),
            (F.col("user_id") % 10).cast("string").alias("cohort"),
            F.col("user_id").cast("string").alias("sid"),
            "ts_ms",
            "value",
        ).filter(F.col("name") == "click")
        r = promql.rate(s, ["sid", "cohort"], 86_400_000)
        return r.groupBy("cohort", "bucket_ms").agg(
            F.sum(F.col("rate_per_s").cast("decimal(30,10)")).alias("v")
        )

    def exact_dedup_docs(docs: DataFrame):
        from horaedb_spark.functions.dedup import exact_dedup

        return exact_dedup(docs, "text", "doc_id")

    def minhash_docs(docs: DataFrame):
        from horaedb_spark.functions.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(docs, "text", "doc_id")

    def sessionize(ev: DataFrame):
        # gaps-and-islands sessionization, windows partitioned per user
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy("ts_ms")
        gap = F.col("ts_ms") - F.lag("ts_ms").over(w)
        s = ev.withColumn(
            "new_s", (gap.isNull() | (gap > 1_800_000)).cast("int")
        )
        s = s.withColumn(
            "sess",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        return s.groupBy("user_id", "sess").agg(
            F.count(F.lit(1)).alias("n"), F.max("ts_ms").alias("t")
        )

    # ANN: fixed 100-query batch against the 1x and Nx corpus — the
    # serving question is "what does 50x MORE CORPUS cost per query?".
    # Brute force must pay ~N; IVF pays ~N/num_cells * nprobe.
    emb1 = load_table(spark, args.sf, "embeddings")
    _replicate(spark, emb1, args.mult, ["vec_id"]).write.mode("overwrite").parquet(
        f"{base}/embeddings"
    )
    embN = spark.read.parquet(f"{base}/embeddings")
    # both kernels compute in int64 and reject float columns: quantize first
    qset = emb1.orderBy("vec_id").limit(100).select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )

    def ann_brute(corpus: DataFrame):
        from horaedb_spark.functions.similarity import brute_force_topk

        qc = corpus.select("vec_id", quantize(F.col("embedding")).alias("qv"))
        return brute_force_topk(qc, qset, "qv", "vec_id", 10)

    def ann_ivf(corpus: DataFrame):
        import math

        from horaedb_spark.functions.similarity import ivf_ann_topk

        qc = corpus.select("vec_id", quantize(F.col("embedding")).alias("qv"))
        n = corpus.count()
        cells = max(16, int(math.isqrt(n)))
        return ivf_ann_topk(
            qc, qset, "qv", "vec_id", 10, num_cells=cells, nprobe=4
        )

    def funnel(ev: DataFrame):
        # per-user staged-event fold (signup -> click -> purchase): one
        # shuffle on user_id, no global window
        from horaedb_spark.queries.events_queries import funnel_stages

        staged = funnel_stages(ev.select("user_id", "event_type", "ts_ms"))
        return staged.groupBy("stage_reached").agg(
            F.count(F.lit(1)).alias("n_users"), F.sum("user_id").alias("cs")
        )

    # Merge-on-read scan: the storage hot path. Fixture (bulk ingest + a
    # 10%-of-rows OVERWRITE batch into the first segment, so the scan's
    # PK merge has real work) is built here, outside the timed window.
    def _merge_table(ev: DataFrame, tag: str):
        from pyspark.sql import types as T

        from horaedb_spark.core.schema import StorageSchema, UpdateMode
        from horaedb_spark.core.timeutil import TimeRange
        from horaedb_spark.storage.table import ColumnarTable, WriteRequest

        SEG = 15 * 86_400_000
        t = ColumnarTable(
            spark,
            f"{base}/mor_{tag}/t",
            StorageSchema(
                T.StructType(
                    [
                        T.StructField("event_id", T.LongType()),
                        T.StructField("ts_ms", T.LongType()),
                        T.StructField("user_id", T.LongType()),
                        T.StructField("event_type", T.StringType()),
                        T.StructField("value", T.DoubleType()),
                    ]
                ),
                num_primary_keys=1,
                update_mode=UpdateMode.OVERWRITE,
            ),
            SEG,
        )
        t.bulk_ingest(ev, "ts_ms")
        lo = ev.agg(F.min("ts_ms")).first()[0]
        seg = lo - lo % SEG
        over = ev.filter(
            (F.col("ts_ms") >= seg)
            & (F.col("ts_ms") < seg + SEG)
            & (F.col("event_id") % 10 == 0)
        ).withColumn("value", F.col("value") * 2)
        t.write(WriteRequest(over, TimeRange(seg, seg + SEG)))
        return t

    mor1 = _merge_table(ev1, "1x")
    morN = _merge_table(evN, "Nx")

    def merge_scan(table):
        from horaedb_spark.storage.table import ScanRequest

        return table.scan(ScanRequest(ordered=False)).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,10)")).alias("v"),
        )

    ops = {
        "metric_rate_agg": (rate_agg, ev1, evN),
        "sessionization": (sessionize, ev1, evN),
        "funnel": (funnel, ev1, evN),
        "storage_merge_scan": (merge_scan, mor1, morN, ev1, evN),
        "dedup_exact": (exact_dedup_docs, docs1, docsN),
        "dedup_minhash_pairs": (minhash_docs, docs1, docsN),
        "ann_brute_100q": (ann_brute, emb1, embN),
        "ann_ivf_100q": (ann_ivf, emb1, embN),
    }
    out = {}
    for name, spec in ops.items():
        fn, a1, aN = spec[0], spec[1], spec[2]
        rows1, rowsN = (spec[3], spec[4]) if len(spec) == 5 else (a1, aN)
        t1 = _time(lambda: fn(a1))
        tN = _time(lambda: fn(aN))
        out[name] = {
            "rows_1x": rows1.count(),
            f"rows_{args.mult}x": rowsN.count(),
            "t1_s": round(t1, 3),
            f"t{args.mult}_s": round(tN, 3),
            "ratio": round(tN / t1, 2),
            # the scale verdict: wall growth per unit of data growth —
            # <1.0 means sub-linear (fixed costs amortize), 1.0 is perfect
            # linear on fixed cores, >1.0 is the red flag
            "ratio_vs_linear": round(tN / t1 / args.mult, 3),
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)

    # Viral-cluster MinHash probe: a near-dup cluster (site boilerplate)
    # that GROWS with the corpus — the 100 TB failure mode where one hot
    # bucket would emit m^2/2 candidate pairs. The band-bucket cap sub-keys
    # over-sized buckets by the next band's signature, so pair count must
    # grow far sub-quadratically in m (quadratic would be mult^2 x) and
    # wall-time ~linearly with the data.
    out["viral_minhash"] = viral_minhash_probe(spark, docs1, docsN, args.mult)
    print(f"# viral_minhash: {out['viral_minhash']}", file=sys.stderr)
    print(json.dumps({"probe": "data_scaling", "mult": args.mult, "ops": out}))


def ingest_probe(spark, sf_dir: str, mult: int) -> dict:
    """The ingest leg's data-scaling row (VERDICT r14 #8): remote-write
    payload decode (``mapInPandas`` Python protobuf walk) → samples →
    data-table dedup → packed layout, timed end-to-end at 1x and ``mult``x
    payload volume. The decode is the one Python-side boundary on the
    write path — its scaling must be measured, not assumed. Payload
    FIXTURES are built untimed (encode is the same wire walk in reverse,
    grouped ~200 samples per request, one request row per group) and
    written to parquet so both timed runs start from a real binary scan.
    """
    import pandas as pd

    from horaedb_spark.metric import model
    from horaedb_spark.metric.ingest import (
        SAMPLES_SCHEMA,  # noqa: F401  (documents the decode contract)
        decode_payloads,
        encode_write_request,
    )

    base = tempfile.mkdtemp(prefix="scale_probe_ingest_")

    def _payloads(ev: DataFrame, path: str) -> str:
        def enc(batches):
            for pdf in batches:
                rows = []
                for lo in range(0, len(pdf), 200):
                    chunk = pdf.iloc[lo : lo + 200]
                    series = [
                        {
                            "name": str(r.event_type),
                            "labels": {
                                "user": str(r.user_id),
                                "cohort": str(r.user_id % 10),
                            },
                            "samples": [(float(r.value), int(r.ts_ms))],
                        }
                        for r in chunk.itertuples()
                    ]
                    rows.append(
                        (int(chunk.iloc[0].event_id), encode_write_request(series))
                    )
                yield pd.DataFrame(rows, columns=["seq", "payload"])

        ev.mapInPandas(enc, "seq long, payload binary").write.mode(
            "overwrite"
        ).parquet(path)
        return path

    ev1 = events_ms(spark, sf_dir).select(
        "event_id", "ts_ms", "user_id", "event_type", "value"
    )
    evN = _replicate(spark, ev1, mult, ["event_id", "user_id"])
    p1 = spark.read.parquet(_payloads(ev1, f"{base}/pay1"))
    pN = spark.read.parquet(_payloads(evN, f"{base}/payN"))

    def decode_pack(payloads: DataFrame):
        samples = decode_payloads(payloads)
        return model.pack_data_table(model.build_data_table(samples))

    out: dict = {}
    n1, nN = p1.count(), pN.count()
    t1 = _time(lambda: decode_pack(p1))
    tN = _time(lambda: decode_pack(pN))
    out["ingest_decode_pack"] = {
        "payload_rows_1x": n1,
        "payload_rows_Nx": nN,
        "t1_s": round(t1, 3),
        "tN_s": round(tN, 3),
        "ratio": round(tN / max(t1, 1e-9), 2),
        "ratio_vs_linear": round((tN / max(t1, 1e-9)) / mult, 3),
    }
    return out


def queries_probe(spark, sf_dir: str, mult: int, names: list[str] | None = None) -> dict:
    """Data-scaling rows for the HEAVIEST registered queries, run through
    their real entry points (VERDICT r14 #7): build one scaled data dir
    (events/orders/embeddings/documents replicated ``mult``x with
    disjoint entity ids, every other table symlinked), then time each
    query fn at 1x and Nx. Timing evidence only — the scaled dir is a
    measurement input, never an oracle input."""
    import os

    from horaedb_spark.queries.registry import queries_map

    qmap = queries_map()
    names = names or [
        "promql_parse_eval",
        "promql_fn_eval",
        "customer_rfm_segments",
        "embedding_kmeans",
        "dedup_quality_representatives",
        "dedup_minhash_lsh",
        "text_bigram_lm",
        "text_bpe_apply",
        "market_basket_pairs",
        "tpch_q1_pricing_summary",
    ]
    scaled_cols = {
        "events": ["event_id", "user_id"],
        "orders": ["o_orderkey", "o_custkey"],
        "embeddings": ["vec_id"],
        "documents": ["doc_id"],
        "lineitem": ["l_orderkey"],
        "sales": [],
    }
    base = tempfile.mkdtemp(prefix="scale_probe_q_")
    from horaedb_spark.queries.tables import TABLES

    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(src):
            continue
        if t in scaled_cols:
            df = spark.read.parquet(src)
            cols = [c for c in scaled_cols[t] if c in df.columns]
            _replicate(spark, df, mult, cols).write.mode("overwrite").parquet(
                f"{base}/{t}.parquet"
            )
        else:
            os.symlink(os.path.abspath(src), f"{base}/{t}.parquet")
    out: dict = {}
    for name in names:
        fn = qmap.get(name)
        if fn is None:
            continue
        try:
            spark.sparkContext.setJobDescription(f"probe1x:{name}")
            t1 = _time(lambda: fn(spark, sf_dir))
            spark.sparkContext.setJobDescription(f"probeNx:{name}")
            tN = _time(lambda: fn(spark, base))
            out[name] = {
                "t1_s": round(t1, 3),
                "tN_s": round(tN, 3),
                "ratio": round(tN / max(t1, 1e-9), 2),
                "ratio_vs_linear": round((tN / max(t1, 1e-9)) / mult, 3),
            }
        except Exception as e:
            out[name] = {"error": str(e)[:200]}
        print(f"# {name}: {out[name]}", file=sys.stderr)
    return out


def ann_filtered_probe(spark, sf_dir: str, mult: int) -> dict:
    """VERDICT r11 task 5: the 100x rows for the FILTERED ANN family — the
    production search shape (metadata predicate composed with top-k) on
    all three strategies. Embeddings AND documents replicate with a COMMON
    id offset so the vec_id=doc_id pairing (and therefore the language
    predicate's selectivity, ~41% English) is preserved at every scale.
    Queries are a fixed 100-vector batch; indexes (IVF centroids, PQ
    codebook) are trained on each scale's FULL corpus, exactly like the
    registered queries — production never re-trains per predicate.
    Expectation: each filtered variant costs ~selectivity x its unfiltered
    SCALE100 row; PQ's ADC scan touches selectivity x encoded-corpus."""
    import math

    from horaedb_spark.functions.similarity import (
        brute_force_topk,
        ivf_ann_topk,
        ivf_centroids,
        pq_ann_topk,
    )

    base = tempfile.mkdtemp(prefix="ann_filtered_probe_")
    emb1 = load_table(spark, sf_dir, "embeddings")
    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    off = max(
        emb1.agg(F.max("vec_id")).first()[0],
        docs1.agg(F.max("doc_id")).first()[0],
    ) + 1
    for df, col, name in ((emb1, "vec_id", "emb"), (docs1, "doc_id", "docs")):
        rep = df.crossJoin(
            F.broadcast(spark.range(mult).withColumnRenamed("id", "__copy__"))
        )
        rep = rep.withColumn(col, F.col(col) + F.col("__copy__") * off)
        rep.drop("__copy__").write.mode("overwrite").parquet(f"{base}/{name}")
    embN = spark.read.parquet(f"{base}/emb")
    docsN = spark.read.parquet(f"{base}/docs")

    q1 = emb1.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    qset = q1.orderBy("vec_id").limit(100)

    def _corpus(emb, docs):
        qc = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
        en = docs.filter(F.col("lang") == "en").select(
            F.col("doc_id").alias("vec_id")
        )
        return qc.join(en, "vec_id", "left_semi")

    def brute(emb, docs):
        return brute_force_topk(_corpus(emb, docs), qset, "qv", "vec_id", 10)

    def _full_centroids(emb, cells):
        qc = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
        return [(r.cid, r.centv) for r in
                ivf_centroids(qc, "vec_id", "qv", cells).collect()]

    def ivf(emb, docs):
        n = emb.count()
        cells = max(16, int(math.isqrt(n)))
        return ivf_ann_topk(
            _corpus(emb, docs), qset, "qv", "vec_id", 10,
            num_cells=cells, nprobe=4,
            centroids=_full_centroids(emb, cells),
        )

    def pq(emb, docs):
        return pq_ann_topk(
            _corpus(emb, docs), qset, "qv", "vec_id", 10,
            num_codes=16, centroids=_full_centroids(emb, 16),
        )

    out = {}
    for name, fn in (
        ("ann_filtered_brute_100q", brute),
        ("ann_filtered_ivf_100q", ivf),
        ("ann_filtered_pq_100q", pq),
    ):
        t1 = _time(lambda: fn(emb1, docs1))
        tN = _time(lambda: fn(embN, docsN))
        out[name] = {
            "rows_1x": emb1.count(),
            f"rows_{mult}x": embN.count(),
            "t1_s": round(t1, 3),
            f"t{mult}_s": round(tN, 3),
            "ratio": round(tN / t1, 2),
            "ratio_vs_linear": round(tN / t1 / mult, 3),
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    return out


def prune_probe(spark, sf_dir: str, mult: int) -> dict:
    """ExactSubstr-prune at the 100× standard under DEGENERATE duplication:
    plain replication makes every document a mult-way verbatim duplicate,
    so ~(mult-1)/mult of ALL tokens are marked for removal — the worst
    realistic shape for a span-pruning pass (a crawl where nearly
    everything is boilerplate). The operator's claim is linearity in
    shingles with no pair join; this measures it where a pairwise
    formulation would be O(docs²·mult²). Replicated docs are repartitioned
    to a realistic file count — the crossJoin writer otherwise emits ~2
    giant files and the row-local shingle stage inherits 2 tasks (a
    fixture artifact, not an operator property)."""
    from horaedb_spark.functions.dedup import exact_substr_prune_stats

    base = tempfile.mkdtemp(prefix="prune_probe_")
    d1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    off = d1.agg(F.max("doc_id")).first()[0] + 1
    rep = d1.crossJoin(
        F.broadcast(spark.range(mult).withColumnRenamed("id", "__copy__"))
    )
    (
        rep.withColumn("doc_id", F.col("doc_id") + F.col("__copy__") * off)
        .drop("__copy__")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{base}/docs")
    )
    dN = spark.read.parquet(f"{base}/docs")

    def t(docs):
        t0 = time.perf_counter()
        exact_substr_prune_stats(docs, "doc_id", "text", min_span=10).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    t1 = t(d1)
    tN = t(dN)
    stats = (
        exact_substr_prune_stats(dN, "doc_id", "text", min_span=10)
        .agg(F.sum("removed_tokens").alias("rm"), F.sum("n_tokens").alias("nt"))
        .first()
    )
    out = {
        f"dedup_exact_substr_prune_{mult}x": {
            "rows_1x": d1.count(),
            f"rows_{mult}x": dN.count(),
            "t1_s": round(t1, 3),
            f"t{mult}_s": round(tN, 3),
            "ratio": round(tN / t1, 2),
            "ratio_vs_linear": round(tN / t1 / mult, 3),
            f"removed_frac_{mult}x": round(stats.rm / stats.nt, 4),
        }
    }
    print(f"# {out}", file=sys.stderr)
    return out


def spans_probe(spark, sf_dir: str, mult: int, cap: int = 50) -> dict:
    """ExactSubstr pair-spans at the 100× standard — the half whose scaling
    claim rests on the duplicated-shingle-group caps (``max_docs_per_shingle``
    docs AND 4× that many occurrences), because the pair join inside a group
    is quadratic and only the cap bounds it.

    Fixture (1×): the sf documents corpus + a half-copy per 5th doc (each
    copy shares its source's leading ~60% tokens — real recoverable spans
    that SURVIVE the cap) + a planted viral-boilerplate cluster of
    ``8 × cap`` docs sharing one 60-token run (the O(docs²) shape the cap
    must disarm: 400 docs sharing a shingle would alone emit ~80k anchors
    per position without it).

    Scaling (N×): ``mult`` copies with PER-COPY TOKEN SALT (every
    whitespace token gets a copy-id suffix), so each copy is an independent
    sub-corpus: group count grows ~linearly while per-group occupancy stays
    constant — the realistic growth shape for a crawl. Plain replication
    (the prune probe's fixture) would instead multiply every group's
    occupancy past the doc cap and EMPTY the pair join — trivially fast and
    evidence of nothing, which is why this probe salts. The viral cluster is
    replicated too: at N× there are ``mult`` capped-out clusters, proving
    the cap engages at scale rather than only at 1×."""
    from horaedb_spark.functions.dedup import exact_substr_spans

    base = tempfile.mkdtemp(prefix="spans_probe_")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    off = d.agg(F.max("doc_id")).first()[0] + 1
    toks = F.split(F.col("text"), " ")
    keep = F.greatest((F.size(toks) * 3 / 5).cast("int"), F.lit(12))
    fresh_tail = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda i: F.concat(
                F.lit("zz"),
                F.col("doc_id").cast("string"),
                F.lit("x"),
                i.cast("string"),
            ),
        ),
    )
    half = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + off).alias("doc_id"),
            F.concat_ws(
                " ", F.concat_ws(" ", F.slice(toks, 1, keep)), fresh_tail
            ).alias("text"),
        )
    )
    bp = " ".join(f"bp{i}" for i in range(60))
    viral = spark.range(8 * cap).select(
        (F.col("id") + 2 * off).alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit(bp),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(11)),
                    lambda i: F.concat(
                        F.lit("vv"),
                        F.col("id").cast("string"),
                        F.lit("x"),
                        i.cast("string"),
                    ),
                ),
            ),
        ).alias("text"),
    )
    one = d.unionByName(half).unionByName(viral)
    one.repartition(16).write.mode("overwrite").parquet(f"{base}/docs1")
    d1 = spark.read.parquet(f"{base}/docs1")
    # id-space stride between copies (ADVICE r13): viral ids occupy
    # [2*off, 2*off + 8*cap), so a stride of 4*off alone collides when
    # off <= (8*cap - 1)/2 (~200 base docs at cap=50) — copy 0's viral
    # block would overlap copy 1's base block, silently merging distinct
    # docs under one doc_id and corrupting pair counts. Take the max.
    big_off = max(4 * off, 2 * off + 8 * cap + 1)
    salted = F.concat_ws(
        " ",
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(w, F.lit("c"), F.col("__copy__").cast("string")),
        ),
    )
    (
        d1.crossJoin(
            F.broadcast(spark.range(mult).withColumnRenamed("id", "__copy__"))
        )
        .select(
            (F.col("doc_id") + F.col("__copy__") * big_off).alias("doc_id"),
            salted.alias("text"),
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{base}/docsN")
    )
    dN = spark.read.parquet(f"{base}/docsN")

    def run(docs):
        t0 = time.perf_counter()
        exact_substr_spans(
            docs, "doc_id", "text", min_span=10, max_docs_per_shingle=cap
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run(d1)  # untimed warm-up: first run pays one-time codegen/analysis
    t1 = run(d1)
    tN = run(dN)
    p1 = exact_substr_spans(d1, "doc_id", "text", 10, cap).count()
    pN = exact_substr_spans(dN, "doc_id", "text", 10, cap).count()
    # the viral cluster must contribute ZERO pairs at both scales (every
    # boilerplate shingle sits in 8×cap docs, over the cap): pair counts
    # grow ~mult×, never (8·cap·mult choose 2)-shaped
    out = {
        f"dedup_exact_substr_{mult}x": {
            "rows_1x": d1.count(),
            f"rows_{mult}x": dN.count(),
            "viral_docs_1x": 8 * cap,
            "pairs_1x": p1,
            f"pairs_{mult}x": pN,
            "pair_growth_x": round(pN / max(p1, 1), 2),
            "t1_s": round(t1, 3),
            f"t{mult}_s": round(tN, 3),
            "ratio": round(tN / t1, 2),
            "ratio_vs_linear": round(tN / t1 / mult, 3),
        }
    }
    print(f"# {out}", file=sys.stderr)
    return out


def planted_cluster(spark, m: int, offset: int = 10_000_000) -> DataFrame:
    """m near-duplicate docs: a 40-token boilerplate with 3 deterministic
    per-doc token mutations — pairwise Jaccard stays high (J ~ 0.85+) while
    minhash signatures vary across the cluster (the shape that floods one
    LSH bucket)."""
    words = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(m):
        toks = list(words)
        for j in range(3):
            toks[(d * 7 + j * 11) % 40] = f"m{d}_{j}"
        rows.append((offset + d, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def viral_minhash_run(spark, docs: DataFrame, m: int, cap: int) -> tuple[int, float]:
    """One capped-MinHash measurement over ``docs`` + a planted m-doc viral
    cluster: returns (candidate pairs, wall seconds). Shared by the full
    scale probe below and bench.py's bounded per-round variant so the two
    cannot drift."""
    from horaedb_spark.functions.dedup import minhash_lsh_pairs

    corpus = docs.select("doc_id", "text").unionByName(planted_cluster(spark, m))
    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(
        corpus, "text", "doc_id", max_bucket_rows=cap
    ).count()
    return pairs, time.perf_counter() - t0


def viral_minhash_probe(
    spark, docs1: DataFrame, docsN: DataFrame, mult: int, cap: int = 500
) -> dict:
    """Plant a cluster >= 10x the bucket cap at 1x, grown by ``mult`` at
    the Nx corpus; record capped pair count + wall-time at both scales."""
    m1 = 10 * cap
    p1, t1 = viral_minhash_run(spark, docs1, m1, cap)
    pN, tN = viral_minhash_run(spark, docsN, m1 * mult, cap)
    return {
        "cap": cap,
        "cluster_1x": m1,
        f"cluster_{mult}x": m1 * mult,
        "pairs_1x": p1,
        f"pairs_{mult}x": pN,
        "pair_growth_x": round(pN / max(p1, 1), 2),
        "quadratic_would_be_x": mult * mult,
        "t1_s": round(t1, 3),
        f"t{mult}_s": round(tN, 3),
        "wall_ratio": round(tN / t1, 2),
    }


def mirror_restart_probe(
    spark, n_segments: int = 120, rows_per_segment: int = 8000, buckets: int = 16
) -> dict:
    """Reproduces the SCALING.md restart measurement: initial bucketed-
    mirror build (a full write job over every segment) vs the post-restart
    re-registration over the SAME warehouse files (metadata only — CREATE
    TABLE ... LOCATION + partition recovery). The ratio grows with data
    size: re-registration does no data job at all.

    Run: python scripts/scale_probe.py --probe mirror [--segments N]"""
    import shutil

    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema, UpdateMode
    from horaedb_spark.storage.bucketed import BucketSpec
    from horaedb_spark.storage.table import ColumnarTable

    schema = StorageSchema(
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
        num_primary_keys=1,
        update_mode=UpdateMode.OVERWRITE,
    )
    root = tempfile.mkdtemp(prefix="mirror_probe_") + "/t"
    t = ColumnarTable(
        spark, root, schema, 1000, bucket_spec=BucketSpec(buckets, ("k",))
    )
    n = n_segments * rows_per_segment
    rows = spark.range(n).select(
        F.col("id").alias("k"),
        ((F.col("id") % n_segments) * 1000 + 500).alias("ts_ms"),
        F.col("id").cast("double").alias("v"),
    )
    t.bulk_ingest(rows, "ts_ms")
    t0 = time.perf_counter()
    t.refresh_bucketed()
    build_s = time.perf_counter() - t0
    # restart: catalog entry gone, warehouse files kept (DROP TABLE on the
    # managed mirror deletes files, so stash/restore like the tests do)
    loc = t.bucketed._warehouse_location()
    stash = tempfile.mkdtemp(prefix="mirror_probe_stash_")
    shutil.copytree(loc, stash, dirs_exist_ok=True)
    spark.sql(f"DROP TABLE {t.bucketed.name}")
    shutil.rmtree(loc, ignore_errors=True)
    shutil.copytree(stash, loc, dirs_exist_ok=True)
    t0 = time.perf_counter()
    stats = t.refresh_bucketed()
    reregister_s = time.perf_counter() - t0
    assert stats["reregistered"] and not stats["rebuilt"], stats
    # serving correctness after re-registration: row counts agree
    assert t.bucketed_scan().count() == n

    # second claim: INCREMENTAL refresh cost follows the touched batch,
    # not the table — the same single-segment ingest must refresh in
    # ~constant time on a table 10x the segment count
    def _one_segment_refresh(table) -> float:
        table.bulk_ingest(
            spark.range(64).select(
                (F.col("id") + 10_000_000_000).alias("k"),
                F.lit(500).alias("ts_ms"),
                F.col("id").cast("double").alias("v"),
            ),
            "ts_ms",
        )
        t0 = time.perf_counter()
        st = table.refresh_bucketed()
        dt = time.perf_counter() - t0
        assert not st["rebuilt"] and len(st["overwritten"]) == 1, st
        return dt

    small_n = max(n_segments // 10, 1)
    small = ColumnarTable(
        spark,
        tempfile.mkdtemp(prefix="mirror_probe_small_") + "/t",
        schema,
        1000,
        bucket_spec=BucketSpec(buckets, ("k",)),
    )
    small.bulk_ingest(
        spark.range(small_n * rows_per_segment).select(
            F.col("id").alias("k"),
            ((F.col("id") % small_n) * 1000 + 500).alias("ts_ms"),
            F.col("id").cast("double").alias("v"),
        ),
        "ts_ms",
    )
    small.refresh_bucketed()
    # one UNTIMED warm-up per table: the incremental DROP PARTITION +
    # insertInto path pays one-time analysis/codegen on its first session
    # run — timing that against a warm run would bias the sensitivity
    # ratio low
    _one_segment_refresh(small)
    _one_segment_refresh(t)
    refresh_small_s = _one_segment_refresh(small)
    refresh_large_s = _one_segment_refresh(t)
    return {
        "segments": n_segments,
        "rows": n,
        "build_s": round(build_s, 3),
        "reregister_s": round(reregister_s, 3),
        "ratio_x": round(build_s / max(reregister_s, 1e-9), 1),
        "one_segment_refresh_small_s": round(refresh_small_s, 3),
        "one_segment_refresh_large_s": round(refresh_large_s, 3),
        "refresh_size_sensitivity_x": round(
            refresh_large_s / max(refresh_small_s, 1e-9), 2
        ),
    }


if __name__ == "__main__":
    main()
