"""Metrics from a run's operations, spans and event log.

End-to-end metrics are computed over the timed operations of an
untraced phase.  Per-layer metrics come from the traced phase; a layer a
workload does not run reads 0 there.
"""

from __future__ import annotations

from collections import defaultdict

from benchsuite.stats import geomean, percentile, summary, supported_tail
from benchsuite.trace import self_ms
from benchsuite.workloads import CATALOG

# (name, unit, better) -- BENCHMARK.json lists the same metrics
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("py_peak_rss_mb", "MB", "lower"),
    ("jvm_live_heap_mb", "MB", "lower"),
    ("op_geomean_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
]

SPARK_PER_OP = [
    ("spark.create_df_ms", "ms", "lower"),
    ("spark.collect_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.input_bytes", "B", "lower"),
    ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("py4j.calls", "count", "lower"),
    ("driver.py_cpu_ms", "ms", "lower"),
    ("jvm.cpu_ms", "ms", "lower"),
]

PER_LAYER = [
    ("server.qr_cache.hit_ratio", "ratio", "higher"),
    ("server.qr_cache.computes", "count", "lower"),
    ("server.request_self_ms", "ms", "lower"),
    ("metric.ingest.decode_ms", "ms", "lower"),
    ("metric.ingest.decode_samples_per_s", "1/s", "higher"),
    ("storage.table.bulk_ingest_ms", "ms", "lower"),
    ("storage.table.scan_build_ms", "ms", "lower"),
    ("storage.table.ssts_read_per_scan", "count", "lower"),
    ("storage.table.sst_prune_ratio", "ratio", "lower"),
    ("storage.manifest.update_ms", "ms", "lower"),
    ("storage.manifest.max_pending_deltas", "count", "lower"),
    ("storage.manifest.folds", "count", "lower"),
    ("storage.compaction.run_once_ms", "ms", "lower"),
    ("storage.compaction.bytes_rewritten", "B", "lower"),
    ("storage.write_amp", "ratio", "lower"),
    ("storage.bytes_per_sample", "B", "lower"),
    ("metric.engine.build_ms", "ms", "lower"),
    ("metric.engine.select_series_ms", "ms", "lower"),
    ("metric.promql.compile_ms", "ms", "lower"),
    ("metric.promql.py4j_calls_per_compile", "count", "lower"),
    *[
        (f"queries.{q}.{m}", unit, "lower")
        for q in CATALOG
        for m, unit in (("build_ms", "ms"), ("exec_ms", "ms"), ("py4j_calls", "count"))
    ],
    *SPARK_PER_OP,
]

HTTP_KINDS = {"write", "read", "compact"}


def end_to_end(ops, setup_s: float, memory: dict[str, float]) -> dict[str, float]:
    ms = [o.ms for o in ops]
    return {
        "setup_s": setup_s,
        **memory,
        "op_geomean_ms": geomean(ms),
        "ops_per_s": len(ms) / (sum(ms) / 1000.0),
    }


def by_kind(ops) -> dict:
    """Latency per operation kind with its sample count, and the tail
    percentile the count supports."""
    groups = defaultdict(list)
    for o in ops:
        groups[o.kind].append(o.ms)
    out = {}
    for kind, ms in sorted(groups.items()):
        row = {"unit": "ms", "n": len(ms), "p50": percentile(ms, 50)}
        tail = supported_tail(len(ms))
        if tail is not None:
            row[f"p{tail:g}"] = percentile(ms, tail)
        out[kind] = row
    samples = sum(o.samples for o in ops)
    if samples:
        out["samples_per_s"] = {"unit": "1/s", "value": samples / (sum(o.ms for o in ops) / 1000.0)}
    return out


def per_layer(tracer, op_ids: set[int], ops, cache: dict | None, max_deltas: int,
              store: dict, evlog) -> tuple[dict[str, float], dict]:
    """Per-layer values plus, for each, the distribution it was taken
    from (count, median, extremes)."""
    spans = [s for s in tracer.spans if s.op in op_ids]
    op_spans = [s for s in tracer.ops if s.sid in op_ids]
    children = defaultdict(list)
    for s in spans:
        children[s.parent].append(s)
    named = defaultdict(list)
    for s in spans:
        named[s.name].append(s)
    dist: dict[str, list[float]] = {}

    def per_op_sum(names: tuple[str, ...], kinds=None) -> list[float]:
        tot = defaultdict(float)
        for s in spans:
            if s.name in names:
                tot[s.op] += s.ms
        return [tot[o.sid] for o in op_spans if kinds is None or o.name in kinds]

    dist["server.request_self_ms"] = [
        self_ms(o, children[o.sid]) for o in op_spans if o.name in HTTP_KINDS
    ]
    decode = ("metric.ingest.decode_write_request", "metric.ingest.decode_metadata",
              "metric.ingest.decode_exemplars")
    dist["metric.ingest.decode_ms"] = per_op_sum(decode, {"write"})
    dist["storage.table.bulk_ingest_ms"] = [s.ms for s in named["storage.table.bulk_ingest"]]
    scans = named["storage.table.scan"]
    dist["storage.table.scan_build_ms"] = [s.ms for s in scans]
    dist["storage.table.ssts_read_per_scan"] = [
        sum(c.attrs.get("ssts", 0) for c in children[s.sid] if c.name == "storage.table.scan_ssts")
        for s in scans
    ]
    dist["storage.table.sst_prune_ratio"] = [
        c.attrs["found"] / c.attrs["live"]
        for s in scans for c in children[s.sid]
        if c.name == "storage.manifest.find_ssts" and c.attrs.get("live")
    ]
    for key, span in (
        ("storage.manifest.update_ms", "storage.manifest.update"),
        ("storage.compaction.run_once_ms", "storage.compaction.run_once"),
        ("metric.engine.build_ms", "metric.engine.build"),
        ("metric.engine.select_series_ms", "metric.engine.select_series"),
        ("metric.promql.compile_ms", "metric.promql.compile"),
    ):
        dist[key] = [s.ms for s in named[span]]
    dist["metric.promql.py4j_calls_per_compile"] = [
        s.attrs["py4j_calls"] for s in named["metric.promql.compile"]
    ]
    for q in CATALOG:
        for part in ("build", "exec"):
            dist[f"queries.{q}.{part}_ms"] = [s.ms for s in named[f"queries.{q}.{part}"]]
        dist[f"queries.{q}.py4j_calls"] = [
            float(o.attrs["py4j_calls"]) for o in op_spans if o.name == f"query:{q}"
        ]
    dist["spark.create_df_ms"] = per_op_sum(("spark.create_df",))
    dist["spark.collect_ms"] = per_op_sum(("spark.collect",))
    dist["py4j.calls"] = [float(o.attrs["py4j_calls"]) for o in op_spans]
    dist["driver.py_cpu_ms"] = [o.attrs["py_cpu_ms"] for o in op_spans]
    dist["jvm.cpu_ms"] = [o.attrs["jvm_cpu_ms"] for o in op_spans]
    if evlog is not None:
        execs = [evlog.attribute(o.start, o.end) for o in op_spans]
        for field in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "input_bytes",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            dist[f"spark.{field}"] = [float(getattr(e, field)) for e in execs]

    # spark.*, py4j and CPU figures are per-op averages (phase total over
    # ops): most ops of a mixed schedule run no collect or scan, so a
    # median would hide the ops that do
    per_op = {n for n, _, _ in SPARK_PER_OP}
    values = {
        name: (sum(v) / len(v) if name in per_op else percentile(v, 50)) if v else 0.0
        for name, v in dist.items()
    }

    decoded = sum(s.attrs.get("items", 0) for s in named["metric.ingest.decode_write_request"])
    decode_s = sum(s.ms for n in decode for s in named[n]) / 1000.0
    values["metric.ingest.decode_samples_per_s"] = decoded / decode_s if decode_s else 0.0
    if cache:
        looked = cache["hits"] + cache["misses"]
        values["server.qr_cache.hit_ratio"] = cache["hits"] / looked if looked else 0.0
        values["server.qr_cache.computes"] = float(cache["computes"])
    else:
        values["server.qr_cache.hit_ratio"] = values["server.qr_cache.computes"] = 0.0
    values["storage.manifest.max_pending_deltas"] = float(max_deltas)
    values["storage.manifest.folds"] = float(
        sum(1 for s in named["storage.manifest.schedule_fold"] if s.attrs.get("launched"))
    )
    rewritten = sum(s.attrs.get("bytes", 0) for s in named["storage.compaction.run_once"])
    ingested = sum(s.attrs.get("bytes", 0) for s in named["storage.table.bulk_ingest"])
    payload = sum(o.payload for o in ops)
    values["storage.compaction.bytes_rewritten"] = float(rewritten)
    values["storage.write_amp"] = (ingested + rewritten) / payload if payload else 0.0
    values["storage.bytes_per_sample"] = float(store.get("bytes_per_sample", 0.0))
    missing = [n for n, _, _ in PER_LAYER if n not in values]
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {missing}")
    return {n: values[n] for n, _, _ in PER_LAYER}, {n: summary(v) for n, v in dist.items()}
