"""Benchmark entry point.

    python3 benchsuite/run.py --workload remote_write --seed 1 --seconds 18 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it is the full report: every metric with
its unit and sample count, host health and, for a traced run, the
tracing overhead.  Everything the run writes stays under ``.bench_work/``
in the repository root; the run's scratch directory is removed at the
end, the report and span dump are kept.  See benchsuite/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3


def _process_age_s() -> float:
    """Seconds since this process started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _spark(work: Path, trace: bool):
    from horaedb_spark.core.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(work / "eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="benchsuite", master=f"local[{os.cpu_count()}]", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM itself, and wait until it has exited (it
    would otherwise outlive this process for a moment)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _alternate(wl, st, tracer, units: int):
    """``units`` traced units among untraced ones, in the order U T T U
    U T ..., with one more untraced unit after an odd count: traced and
    untraced units then sit at the same mean position in the run, so the
    warm-up still going on cancels out of their difference, the tracing
    overhead.  Both kinds run in the same JVM state on the same store.
    The layer wrappers are installed only around traced units.  Returns
    the untraced ops, the traced ops, the traced ops' span ids and the
    result cache's counters over the traced units."""
    from benchsuite.trace import install, uninstall

    order = ("UTTU" * units)[: 2 * units] + ("U" if units % 2 else "")
    plain, traced, op_ids = [], [], set()
    srv = st.get("srv")
    cache = {"hits": 0, "misses": 0, "computes": 0}
    for kind in order:
        if kind == "U":
            plain += wl.unit(st)
            continue
        i0, before = len(tracer.ops), dict(srv.query_cache_stats) if srv else {}
        undo = install(tracer)
        tracer.enabled = True
        try:
            traced += wl.unit(st)
        finally:
            tracer.enabled = False
            uninstall(undo)
        op_ids.update(s.sid for s in tracer.ops[i0:])
        if srv:
            for k in cache:
                cache[k] += srv.query_cache_stats[k] - before[k]
    return plain, traced, op_ids, cache if srv else None


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path) -> tuple[dict, dict]:
    from benchsuite import host, report
    from benchsuite.stats import percentile
    from benchsuite.trace import EventLog, Tracer
    from benchsuite.workloads import WORKLOADS, Outcome, Runner, unit_count

    detail: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace)}
    detail["host_before"] = host.health(os.cpu_count())
    spark = _spark(work, trace)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer()
    runner = Runner(spark, str(work / "data"), tracer, seed, jvm_pid)
    wl = WORKLOADS[workload](runner)
    detail["units"] = units = unit_count(seconds, wl.UNIT_S)
    out = Outcome()
    try:
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            st = wl.build()
            setup.append(time.perf_counter() - t0)
        all_ops = list(wl.warm(st))
        wl.prepare(st)
        detail["process_setup_s"] = _process_age_s()
        host.reset_peak_rss()
        if trace:
            ops, traced, op_ids, cache = _alternate(wl, st, tracer, units)
            all_ops += traced
        else:
            ops = [op for _ in range(units) for op in wl.unit(st)]
        all_ops += ops
        memory = {"py_peak_rss_mb": host.peak_rss_mb(), "jvm_live_heap_mb": host.jvm_live_heap_mb(spark._jvm)}
        detail["store"] = wl.final_check(st, out)
    finally:
        wl.close()
        _stop_spark(spark)

    setup_s = percentile(setup, 50)
    detail["setup_reps_s"] = setup
    detail["ops"] = report.by_kind(ops)
    e2e = report.end_to_end(ops, setup_s, memory)
    unit_of = {n: u for n, u, _ in report.END_TO_END + report.PER_LAYER}
    detail["end_to_end"] = {n: {"value": v, "unit": unit_of[n], "n": _n_of(n, ops)} for n, v in e2e.items()}
    if trace:
        evlog = EventLog(EventLog.find(str(work / "eventlog")))
        layers, dists = report.per_layer(tracer, op_ids, traced, cache, runner.max_deltas, detail["store"], evlog)
        detail["per_layer"] = {n: {"value": v, "unit": unit_of[n], **dists.get(n, {})} for n, v in layers.items()}
        e2e_t = report.end_to_end(traced, setup_s, memory)
        detail["tracing_overhead"] = {
            n: {"traced": e2e_t[n], "untraced": e2e[n], "diff": e2e_t[n] - e2e[n], "unit": unit_of[n]}
            for n in ("op_geomean_ms", "ops_per_s")
        }
        # units at different points of the schedule do different work (a
        # /compact may find nothing to merge), so also compare like ops
        traced_kinds = report.by_kind(traced)
        detail["tracing_overhead"]["p50_ms_by_kind"] = {
            k: {"traced": traced_kinds[k]["p50"], "untraced": v["p50"]}
            for k, v in detail["ops"].items() if k in traced_kinds and "p50" in v
        }
        tracer.dump(str(work.parent / "reports" / f"{work.name}.spans.json"))
    detail["host_after"] = {"loadavg": host.loadavg()}
    failed = [o for o in all_ops if not o.ok]
    detail["failures"] = [o.note for o in failed][:20] + out.notes
    metrics = layers if trace else e2e
    result = {
        "correct": not failed and out.failed == 0,
        "attempted": len(all_ops) + out.attempted,
        "failed": len(failed) + out.failed,
        "metrics": {n: {"value": v, "unit": unit_of[n]} for n, v in metrics.items()},
    }
    return result, detail


def _n_of(name: str, ops) -> int:
    return {"setup_s": SETUP_REPS, "py_peak_rss_mb": 1, "jvm_live_heap_mb": 1}.get(name, len(ops))


def main(argv=None) -> int:
    from benchsuite.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = ROOT / ".bench_work"
    work = base / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    (base / "reports").mkdir(exist_ok=True)
    # everything the run writes stays in its work dir: Python and JVM temp
    # files, and Spark's scratch space even if the environment names one
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None
    # Spark and the program may print to stdout; keep it for the result
    # lines only by pointing fd 1 at stderr until the run is over.
    out_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        sys.stdout.flush()
        os.dup2(out_fd, 1)
        shutil.rmtree(work, ignore_errors=True)
    with open(base / "reports" / f"{work.name}.json", "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    if not (ROOT / "horaedb_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print("benchsuite: the horaedb_spark sources are not in this checkout", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
