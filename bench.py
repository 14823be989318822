"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes to completion through the noop sink (full plan runs on
the executors; nothing funnels to the driver), which is the honest measure of
operator throughput. The headline set spans every subsystem: relational scan/
join/window, the storage engine's ingest+merge-on-read path, the metric/
PromQL layer, dedup/similarity, and streaming ingest.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from horaedb_spark.core.session import get_spark  # noqa: E402
from horaedb_spark.queries.registry import queries_map  # noqa: E402

HEADLINE = [
    # relational surface
    "tpch_q1_pricing_summary",
    "top_customers_by_revenue",
    "regional_supplier_volume",
    "distinct_users_daily",
    "sessionization",
    "asof_join_purchase_click",
    # storage engine (ingest + merge-on-read + compaction)
    "storage_scan_overwrite",
    "storage_scan_predicate_projection",
    # metric / promql layer
    "metric_agg_by_label",
    "promql_rate",
    "promql_histogram_quantile",
    # LLM-pipeline
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "text_quality_score",
    "pipeline_decontamination",
    "text_repetition_filter",
    "pipeline_corpus_clean",
    "dedup_prefix_cluster",
    # round-3 pipeline additions
    "embedding_kmeans",
    "pipeline_token_budget",
    "pipeline_export_shards",
    "text_bigram_lm",
    # relational tail (correlated-subquery decorrelation)
    "min_cost_supplier_q2",
    # promql stateful fold
    "promql_holt_winters",
    # streaming
    "streaming_ingest_scan",
    "streaming_stateful_increase",
    # round-3 continuation additions
    "storage_secondary_index_scan",
    "market_basket_pairs",
    "events_mad_outliers",
    "embedding_quantize_int8",
    # batch-7 additions
    "storage_point_lookup",
    "storage_delete_scan",
    "events_m4_downsample",
    "text_bpe_apply",
    # round-4 additions
    "promql_parse_eval",
    "ann_ivf_topk_large_queryset",
    "text_bpe_batched",
    # round-6 additions: the two round-5 plan fixes (a regression here
    # means the TakeOrderedAndProject / exact_ntile plans rotted) and the
    # RFC packed data table round trip
    "text_bm25_topk",
    "customer_rfm_segments",
    "metric_packed_scan",
    # round-6 function widening: 15 PromQL strings through the parser
    "promql_fn_eval",
    # round-6: the last TPC-H shape (Q10) — scan-heavy, broadcast dims,
    # TakeOrderedAndProject top-20
    "returned_item_losses_q10",
    # second registry names of ann_ivf_topk_large_queryset and
    # ann_bruteforce_topk (same function, same oracle); kept so the
    # headline set stays comparable across runs
    "ann_ivf_topk_arrow",
    "ann_bruteforce_topk_arrow",
    # round-8: the band-bucket-capped MinHash path (planted viral cluster,
    # next-band refinement live) and the contamination-rate report
    "dedup_minhash_capped",
    "pipeline_contamination_rate",
    # round-9: the RFC multi-field catalog end to end (family grouping ->
    # stable-hash field_id -> per-field selection) and the maintained
    # bucketed mirror (no-exchange serving layout; layout never changes
    # answers)
    "metric_multi_field_select",
    "storage_bucketed_scan",
    # round-10: the mirror-served metric engine (data_buckets) — merge
    # pre-paid at refresh, per-series work exchange-free — and the
    # leakage-safe split (near-dup decontamination across the boundary)
    "metric_mirror_select",
    "dedup_split_decontaminate",
    # round-11 (VERDICT r10 task 5): the rest of the round-10 surface as
    # headline entries so the driver tracks them round-over-round — the
    # production filtered-ANN shape on both strategies, mirror serving
    # composed with time-range partition pruning, and the quality-aware
    # cluster-representative pick
    "ann_filtered_topk",
    "ann_ivf_filtered_topk",
    "metric_mirror_time_range",
    "dedup_quality_representatives",
    # round-11: the filtered family's PQ memory path and the histogram
    # accessor family through the string front-end. metric_mirror_retention
    # is deliberately NOT headline: its fixture is a full store build + TTL
    # compaction loop per run (a maintenance scenario, not a query cost —
    # it stays oracle-gated and in the driver correctness sample instead)
    "ann_pq_filtered_topk",
    "promql_histogram_family",
    # round-12: full-strength ExactSubstr (token-exact shared spans,
    # shingle-sized shuffle) and its removal half (keep-first span
    # pruning, no pair join) — the training-pipeline span dedup operators
    "dedup_exact_substr",
    "dedup_exact_substr_prune",
]


def run_query(fn, spark, sf_dir: str) -> float:
    start = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def mc_probe(n_threads: int) -> tuple[float, float]:
    """Multi-core drift probe (round 15, VERDICT r14 #1b): the single-thread
    py_md5 probe was blind to the failure mode that hit round 14 — multi-core
    hypervisor starvation bursts that left single-thread speed unchanged
    while the 32-core wall inflated 1.4x. This probe runs the SAME fixed
    work on ONE thread and then on ``n_threads`` (= session cores) at once;
    hashlib releases the GIL for >2 KiB buffers, so the threads hash truly
    in parallel. On a healthy host with >= n free cores the parallel wall
    ~= the single wall; their ratio is the session's multi-core stall
    factor, legible in the artifact itself with no external reference.
    Returns (single_thread_s, n_thread_wall_s)."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    buf = b"\xa5" * (4 << 20)  # 4 MiB chunks: few GIL transitions per unit

    def unit(_=None) -> None:
        h = hashlib.md5()
        for _ in range(7):  # ~28 MB per thread, ~0.05 s on one clean core
            h.update(buf)

    t0 = time.perf_counter()
    unit()
    single_s = time.perf_counter() - t0
    with ThreadPoolExecutor(n_threads) as pool:
        t0 = time.perf_counter()
        list(pool.map(unit, range(n_threads)))
        multi_s = time.perf_counter() - t0
    return single_s, multi_s


# Queries whose first invocation BUILDS a fixture (SST ingest jobs, streams
# driven to completion). The fixture is setup, not the operator under test —
# pre-build it in warmup so the timed run measures the scan/merge/query path
# against warm fixtures (VERDICT r01 #9).
FIXTURE_QUERIES = (
    "storage_scan_overwrite",
    "streaming_ingest_scan",
    "streaming_stateful_increase",
    "storage_secondary_index_scan",
    "storage_point_lookup",
    "storage_delete_scan",
    "metric_packed_scan",  # ingest + pack-on-compaction is the fixture
    "storage_bucketed_scan",  # ingest + bucketed-mirror build is the fixture
    "metric_mirror_select",  # ingest + tsid-bucketed mirror build is the fixture
)


def warmup(spark, sf_dir: str, qmap) -> None:
    """Absorb one-time JVM/codegen/parquet-footer warmup so per-query
    timings reflect steady-state operator cost."""
    from horaedb_spark.queries.tables import load_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # warm the testdata file listings + parquet footers (schema inference)
    # so the first timed query per table doesn't pay the one-time FileIndex
    # cost — the operator under test is the query, not the catalog
    from horaedb_spark.queries.tables import TABLES

    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).schema
        except Exception:
            pass
    # include a decimal aggregate + window so their codegen compiles here,
    # not inside the first timed query
    li = load_table(spark, sf_dir, "lineitem").limit(1000)
    li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(30,10)")).cast("double")
    ).write.format("noop").mode("overwrite").save()
    for name in FIXTURE_QUERIES:
        fn = qmap.get(name)
        if fn is None:
            continue
        try:
            fn(spark, sf_dir)  # builds + caches the fixture; the plan is lazy
        except Exception as e:
            print(f"# warmup fixture error in {name}: {e}", file=sys.stderr)
    # start the Arrow Python worker pool (daemon + one worker per core is
    # a one-time environment cost, not operator cost — the first
    # mapInPandas/applyInPandas query otherwise pays it)
    try:
        import pandas as _pd

        spark.range(1_000).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception as e:
        print(f"# warmup arrow error: {e}", file=sys.stderr)
    # JIT-compile the PromQL kernel code shapes (rate/agg/window/binop)
    # against a 100-row synthetic engine. Spark's codegen cache is keyed
    # by generated source, which is identical across data sizes for the
    # same plan shape — so this absorbs the one-time whole-stage-codegen
    # compilation of the string-eval suites without touching their data
    # path (measured: first-vs-second run of the 14-string suite differs
    # ~7 s purely from JIT, identical plans).
    try:
        from horaedb_spark.metric.engine import MetricEngine
        from horaedb_spark.metric.promql import promql_eval

        tiny = spark.range(100).select(
            F.when(F.col("id") % 3 == 0, "click")
            .otherwise("error")
            .alias("name"),
            F.create_map(
                F.lit("user"),
                (F.col("id") % 7).cast("string"),
                F.lit("cohort"),
                (F.col("id") % 2).cast("string"),
            ).alias("labels"),
            (F.col("id") * 3_600_000).alias("ts_ms"),
            F.col("id").cast("double").alias("value"),
            F.col("id").alias("seq"),
        )
        tiny_eng = MetricEngine(tiny)
        for q in (
            "sum by (cohort) (rate(click[1d]))",
            "topk(2, sum by (user) (increase(click[1d])))",
            "sum by (cohort) (rate(error[1d])) "
            "/ on(cohort) group_left sum by (cohort) (rate(click[1d]))",
            "max_over_time(click[1d]) - time()",
            "limitk(2, sum by (cohort) (click))",
            'count_values("v", round(sum by (cohort) (click)))',
            "min_over_time((sum by (cohort) (rate(click[1d])))[2d:1d])",
            'label_replace(sum by (cohort) (click), '
            '"env", "p-$1", "cohort", "(.*)")',
            "day_of_week(vector(time()))",
            'absent(click{cohort="zz"}) or vector(pi())',
            "sum by (user) (click) unless sum by (user) (error)",
            "deriv(click[1d]) > bool 0",
        ):
            promql_eval(tiny_eng, q, 86_400_000).write.format("noop").mode(
                "overwrite"
            ).save()
    except Exception as e:
        print(f"# warmup promql error: {e}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark(app_name="horaedb_spark_bench")
    qmap = queries_map()
    warmup(spark, sf_dir, qmap)
    # Pre-loop calibration: the SAME fixed-work JVM probe as the post-loop
    # one, taken before the first timed query. Round 13 observed a bench
    # run where every untouched query sat ~1.25-1.35× high while the
    # POST-loop probes read near-flat (drift decayed or was probe-blind
    # within the session); a probe on each side of the loop lets a
    # round-over-round diff distinguish slow-host from slowed-during-run.
    # Not part of the headline total.
    calib_pre: dict = {}
    try:
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id * 3 + 1)").collect()
        calib_pre = {"jvm_range_sum_s": round(time.perf_counter() - t0, 3)}
    except Exception as e:
        print(f"# pre-calibration error: {e}", file=sys.stderr)
    n_cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    try:
        mc1, mcn = mc_probe(n_cores)
        calib_pre["mc1_s"] = round(mc1, 3)
        calib_pre["mcn_s"] = round(mcn, 3)
        calib_pre["mc_stall_x"] = round(mcn / max(mc1, 1e-9), 2)
    except Exception as e:
        print(f"# pre mc-probe error: {e}", file=sys.stderr)
    import gc

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qmap.get(name)
        if fn is None:
            continue
        try:
            timings[name] = round(run_query(fn, spark, sf_dir), 3)
        except Exception as e:  # a failing query must not hide the others
            timings[name] = -1.0
            print(f"# bench error in {name}: {e}", file=sys.stderr)
        # BETWEEN queries (outside the timed region): drop the finished
        # query's Python-side DataFrame refs so the ContextCleaner can
        # release its localCheckpoint/cache blocks before the next query
        # starts — otherwise py4j finalizer lag makes query N inherit
        # query N-1's block-manager and GC pressure (round 15; timed
        # region, query set and methodology unchanged)
        gc.collect()
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Machine calibration: two fixed-work probes (one JVM, one pure
    # Python) so cross-round comparisons can be normalized for host/VM
    # drift — rounds 5-7 observed identical plans timing 1.2-1.6x apart
    # session-to-session on this box. Not part of the headline total.
    calib: dict = {}
    try:
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id * 3 + 1)").collect()
        jvm_s = time.perf_counter() - t0
        import hashlib

        t0 = time.perf_counter()
        x = b"x" * 64
        for _ in range(300_000):
            x = hashlib.md5(x).digest() * 4
        py_s = time.perf_counter() - t0
        calib = {"jvm_range_sum_s": round(jvm_s, 3), "py_md5_s": round(py_s, 3)}
    except Exception as e:
        print(f"# calibration error: {e}", file=sys.stderr)
    try:
        mc1, mcn = mc_probe(n_cores)
        calib["mc1_s"] = round(mc1, 3)
        calib["mcn_s"] = round(mcn, 3)
        calib["mc_stall_x"] = round(mcn / max(mc1, 1e-9), 2)
    except Exception as e:
        print(f"# post mc-probe error: {e}", file=sys.stderr)
    # RFC packed-layout row-count reduction (RFC 20240827:218-231): a
    # 30-day single series at 15 s resolution packs ~120x fewer data rows.
    # Not in the headline total — it's a layout stat, not a query.
    packing: dict = {}
    try:
        from horaedb_spark.metric.model import pack_data_table

        hf = spark.range(172_800).select(
            F.lit(1).alias("metric_id"),
            F.lit(7).alias("tsid"),
            (F.col("id") * 15_000).alias("ts_ms"),
            F.rand(42).alias("value"),
        )
        t0 = time.perf_counter()
        n_packs = pack_data_table(hf).count()
        packing = {
            "samples": 172_800,
            "packed_rows": n_packs,
            "reduction_x": round(172_800 / n_packs, 1),
            "pack_s": round(time.perf_counter() - t0, 3),
        }
    except Exception as e:
        print(f"# packing bench error: {e}", file=sys.stderr)
    # Mirror pre-pay stat (round 10): the same per-series aggregate over
    # the SAME durable store, once through the merge-on-read scan (dedup
    # window per query) and once through the tsid-bucketed mirror (merge
    # pre-paid at refresh, exchange-free tsid agg). The ratio is the
    # read-amplification the mirror removes for serving workloads — the
    # Spark-first analogue of reading compacted SSTs instead of re-merging
    # per query. Warm best-of-two per path; NOT in the headline total.
    mirror: dict = {}
    try:
        # PRIVATE store under its own temp root — same samples, same spec as
        # the _mirror_store fixture, but the probe's 'bench_probe' ingest
        # must never land in the fixture the cached metric_mirror_* query
        # DataFrames also read (a future mirror query aggregating across all
        # metrics would be silently perturbed by bench ordering).
        import tempfile

        from horaedb_spark.metric.store import MetricStore
        from horaedb_spark.queries.tables import events_ms, events_to_samples

        DAY_MS = 86_400_000
        store = MetricStore(
            spark,
            tempfile.mkdtemp(prefix="bench_mirror_") + "/ms",
            15 * DAY_MS,
            data_buckets=8,
        )
        store.ingest(events_to_samples(events_ms(spark, sf_dir)))

        def _tsid_agg(eng) -> float:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                eng.data.groupBy("tsid").agg(
                    F.sum("value").alias("s"), F.count(F.lit(1)).alias("n")
                ).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            return best

        plain_s = _tsid_agg(store.engine(from_mirror=False))
        mirror_s = _tsid_agg(store.engine())
        # The same win measured END-TO-END through the PromQL HTTP surface
        # (VERDICT r10 task 4): a live /api/v1/query_range against a server
        # over each engine. Responses are byte-equal (pinned in
        # tests/test_server.py); the stat here is serving latency.
        import urllib.parse
        import urllib.request

        from horaedb_spark.server import ControlServer
        from horaedb_spark.storage.compaction import Compactor, SchedulerConfig

        qp = urllib.parse.quote("sum by (cohort) (rate(click[1d]))")
        path = f"/api/v1/query_range?query={qp}&step=1d"

        def _http(eng, cache_size: int = 0) -> float:
            srv = ControlServer(
                Compactor(store.data, SchedulerConfig()),
                metric_engine=eng,
                query_cache_size=cache_size,
            )
            srv.start()
            try:
                best = float("inf")
                for _ in range(3):
                    t0 = time.perf_counter()
                    urllib.request.urlopen(
                        f"http://127.0.0.1:{srv.port}{path}", timeout=300
                    ).read()
                    best = min(best, time.perf_counter() - t0)
                return best
            finally:
                srv.stop()

        # per-request compile+collect on every call (cache disabled): the
        # layout-only comparison, where the mirror win is bounded by the
        # constant HTTP/compile overhead at this SF
        http_plain_s = _http(store.engine(from_mirror=False))
        http_mirror_s = _http(store.engine())
        # the DASHBOARD serving path (round 12): mirror + the query_range
        # response cache keyed on (request, store mutation version) —
        # requests 2..n of a repeated query skip compile AND collect, so
        # best-of-3 measures the steady repeated-query latency. The
        # headline http_speedup_x is merge-on-read-per-request vs this.
        http_cached_s = _http(store.engine(), cache_size=256)
        # maintenance side: one small ingest into ONE segment, then time the
        # incremental refresh — cost must follow the touched batch, not the
        # table (full-rebuild cost is the restart-path measurement in
        # SCALING.md). Stats are asserted partial, not just timed.
        lo = store.data.scan().agg(F.min("ts_ms")).first()[0]
        store.ingest(
            spark.range(64).select(
                F.lit("bench_probe").alias("name"),
                F.create_map(
                    F.lit("k"), (F.col("id") % 4).cast("string")
                ).alias("labels"),
                (F.lit(lo) + F.col("id")).alias("ts_ms"),
                F.col("id").cast("double").alias("value"),
                F.col("id").alias("seq"),
            )
        )
        t0 = time.perf_counter()
        stats = store.data.refresh_bucketed()
        refresh_s = time.perf_counter() - t0
        assert not stats["rebuilt"] and len(stats["overwritten"]) == 1, stats
        mirror = {
            "merge_on_read_s": round(plain_s, 3),
            "mirror_s": round(mirror_s, 3),
            "speedup_x": round(plain_s / max(mirror_s, 1e-9), 2),
            # KEY CONTINUITY (round 12): http_speedup_x changed meaning per
            # VERDICT r11 task 4 — it now measures repeated-dashboard-query
            # serving (merge-on-read per request vs mirror+response-cache),
            # the quantity the task's >=1.5x target names. The pre-r12
            # quantity (layout-only, uncached mirror vs merge-on-read)
            # continues uninterrupted as http_uncached_speedup_x; compare
            # BENCH_r11-and-earlier http_speedup_x against THAT key.
            "http_merge_on_read_s": round(http_plain_s, 3),
            "http_mirror_s": round(http_mirror_s, 3),
            "http_mirror_cached_s": round(http_cached_s, 3),
            "http_uncached_speedup_x": round(
                http_plain_s / max(http_mirror_s, 1e-9), 2
            ),
            "http_speedup_x": round(http_plain_s / max(http_cached_s, 1e-9), 2),
            "incremental_refresh_s": round(refresh_s, 3),
            "segments_rewritten": len(stats["overwritten"]),
        }
    except Exception as e:
        print(f"# mirror prepay bench error: {e}", file=sys.stderr)
    # Viral-cluster MinHash probe (bounded): a planted near-dup cluster 8x
    # and 16x the band-bucket cap over the sf documents. Quadratic bucket
    # behavior would grow candidate pairs 4x between the runs; the capped
    # path (next-band sub-keying) must stay far under that with flat-ish
    # wall-time. Full 10x-corpus version: scripts/scale_probe.py. Not in
    # the headline total.
    viral: dict = {}
    try:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from scripts.scale_probe import viral_minhash_run

        from horaedb_spark.queries.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        cap, runs = 500, []
        for m in (8 * 500, 16 * 500):
            n_pairs, wall = viral_minhash_run(spark, docs, m, cap)
            runs.append(
                {"cluster": m, "pairs": n_pairs, "wall_s": round(wall, 3)}
            )
        viral = {
            "cap": cap,
            "runs": runs,
            "pair_growth_x": round(runs[1]["pairs"] / max(runs[0]["pairs"], 1), 2),
            "quadratic_would_be_x": 4.0,
            "wall_ratio": round(runs[1]["wall_s"] / max(runs[0]["wall_s"], 1e-9), 2),
        }
    except Exception as e:
        print(f"# viral minhash probe error: {e}", file=sys.stderr)
    spark.stop()
    # Manifest-at-scale + codec micro-benches (driver-side metadata paths;
    # reference's encoding_bench analogue) run in a SEPARATE process after
    # the query session has stopped, so they never share heap/GC with the
    # timed queries (r4 verdict #1). Separate key — NOT in the headline
    # total, which stays comparable round-over-round.
    manifest_stats: dict = {}
    try:
        import subprocess

        proc = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(
                os.path.abspath(__file__)), "scripts", "micro_bench.py")],
            capture_output=True, text=True, timeout=900,
        )
        for line in proc.stdout.splitlines():
            line = line.strip()
            if line.startswith("{"):
                manifest_stats = json.loads(line)
                break
        if proc.stderr:
            print(proc.stderr, file=sys.stderr, end="")
    except Exception as e:
        print(f"# micro bench error: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "calibration": calib,
                "calibration_pre": calib_pre,
                "packing": packing,
                "mirror_prepay": mirror,
                "viral_minhash": viral,
                "manifest": manifest_stats,
            }
        )
    )
    # LAST line, minified: the driver records only the final 2000 chars of
    # stdout, and the full record above outgrows that window — so every
    # pre-r13 BENCH artifact has "parsed": null and round-over-round
    # comparison rode on whichever keys landed in the tail (r12 verdict
    # advisory #3). This summary repeats the headline contract keys
    # (metric/value/unit/queries/sf) plus the continuity scalars, compact
    # separators, guaranteed to fit the tail window whole.
    # timings at 2 decimals (10 ms grain — the comparison scale) and the
    # calibration/continuity scalars FLATTENED: the full-precision record
    # above keeps everything; this line's job is to fit the window whole
    # with the queries dict AND the continuity scalars both visible
    # Drift normalization (round 14, VERDICT r13 #1): the bench artifact
    # must be self-normalizing — r13's record showed phantom 2x
    # regressions on compile-bound queries purely from host drift.
    # drift_x = this session's py_md5 probe over the r12 clean-host
    # reference (0.162 s, the value the r13 verdict normalized against);
    # normalized wall = raw / drift_x. The summary publishes the scalar
    # plus pre-normalized values for the compile-bound / watch-list
    # queries so the round-over-round diff needs no manual arithmetic.
    # Raw values stay the "queries" dict for continuity.
    PY_MD5_REF_S = 0.162
    drift_x = (
        round(calib["py_md5_s"] / PY_MD5_REF_S, 2)
        if calib.get("py_md5_s")
        else None
    )
    WATCH = (
        "promql_parse_eval",
        "promql_fn_eval",
        "metric_multi_field_select",
    )
    norm = (
        {
            k: round(timings[k] / drift_x, 2)
            for k in WATCH
            if timings.get(k, -1) >= 0
        }
        if drift_x
        else {}
    )
    summary = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        "jvm_s": calib.get("jvm_range_sum_s"),
        "py_md5_s": calib.get("py_md5_s"),
        "jvm_pre_s": calib_pre.get("jvm_range_sum_s"),
        "drift_x": drift_x,
        # multi-core stall factor (n-thread wall / 1-thread wall of the same
        # per-thread fixed work) on each side of the timed loop: ~1.0-1.3 on
        # a healthy host, >>1 when the hypervisor starves the vCPUs — the
        # round-14 failure mode the single-thread drift_x could not see
        "mc_pre_x": calib_pre.get("mc_stall_x"),
        "mc_post_x": calib.get("mc_stall_x"),
        "norm": norm,
        "http_speedup_x": mirror.get("http_speedup_x"),
        "http_uncached_speedup_x": mirror.get("http_uncached_speedup_x"),
        "mirror_speedup_x": mirror.get("speedup_x"),
    }
    # Fit the 2000-char tail window (ADVICE r13: re-check after every
    # shrink step). Optional keys drop in priority order — the LEAST
    # critical first, so drift_x/norm (the self-normalization the verdict
    # asked for) survive the longest; the queries dict goes last.
    DROP_ORDER = (
        "jvm_pre_s",
        "http_uncached_speedup_x",
        "mirror_speedup_x",
        "jvm_s",
        "http_speedup_x",
        "py_md5_s",
        "mc_pre_x",
        "mc_post_x",
        "norm",
        "drift_x",
        "queries",
    )
    line = json.dumps(summary, separators=(",", ":"))
    for key in DROP_ORDER:
        if len(line) <= 1950:
            break
        summary.pop(key, None)
        line = json.dumps(summary, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
