"""The workloads.  Each is one client doing one operation at a time (a
closed loop with a single client) from this process.

A workload builds its starting state (``build``), warms up untimed on
the same operation mix (``warm``), is readied for timing (``prepare``),
then runs its seeded schedule one unit at a time (``unit``: a round or a
pass).  How many units a run times depends only on the measuring time
(``unit_count``), never on how fast the units go, so every run of a
workload at a given ``--seconds`` does the same work.  Every operation's
answer is checked; ``final_check`` checks the store once the timed phase
is over.
"""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from benchsuite import gen
from benchsuite.host import cpu_ms


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool
    samples: int = 0
    note: str = ""
    payload: int = 0  # request body bytes


@dataclass
class Outcome:
    """Checks outside the op stream (e.g. the read-back of the store)."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, note: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(note)


class Runner:
    """Shared per-run context: the Spark session, the work directory and
    the tracer that marks operation windows."""

    def __init__(self, spark, work: str, tracer, seed: int, jvm_pid: int) -> None:
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.seed = seed
        self.jvm_pid = jvm_pid
        self.manifest = None  # the store whose pending deltas are watched
        self.max_deltas = 0
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{tag}-{self._n}")
        os.makedirs(path)
        return path

    def run(self, kind: str, fn, samples: int = 0) -> tuple[Op, object]:
        """Time one operation.  ``fn`` returns (ok, value, note).  In a
        traced phase the op also records JVM CPU time and, after it ends,
        the unfolded manifest deltas of the store being watched."""
        traced = self.tracer.enabled
        span = self.tracer.begin_op(kind)
        jvm0 = cpu_ms(self.jvm_pid) if traced else 0.0
        t0 = time.perf_counter()
        try:
            ok, value, note = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            ok, value, note = False, None, f"{type(e).__name__}: {e}"[:300]
        ms = (time.perf_counter() - t0) * 1000.0
        self.tracer.end_op(span)
        if traced:
            span.attrs["jvm_cpu_ms"] = cpu_ms(self.jvm_pid) - jvm0
            if self.manifest is not None:
                self.max_deltas = max(self.max_deltas, self.manifest.delta_count())
        return Op(kind, ms, ok, samples if ok else 0, note), value


def unit_count(seconds: float, unit_s: float) -> int:
    """Units a run times: as many nominal ``unit_s`` as fit in
    ``seconds``, at least one."""
    return max(1, int(seconds // unit_s))


def _http(port: int, path: str, body: bytes | None = None) -> tuple[int, bytes]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body, method="POST" if body is not None else "GET"
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _matrix(raw: bytes) -> dict[str, dict[int, float]]:
    """A ``sum by (job)`` query_range reply as {job: {step ms: value}}."""
    out: dict[str, dict[int, float]] = {}
    for s in json.loads(raw)["data"]["result"]:
        out[s["metric"].get("job", "")] = {round(t * 1000): float(v) for t, v in s["values"]}
    return out


# ----------------------------------------------------------- remote_write


class RemoteWrite:
    """Prometheus remote-write into the write sink, behind an in-process
    HTTP server.  A round is ``WRITES_PER_READ`` bodies, one
    read-after-write range query over them, and a client-triggered
    ``/compact``."""

    name = "remote_write"
    UNIT_S = 7.0  # nominal round time on a 4-vCPU host (measured 6-9 s)
    WRITES_PER_READ = 5
    # The manifest folds its delta log in the background once this many
    # deltas are pending.  The program's default, 50, takes more writes
    # than a run can afford; at 8, two rounds include a fold.
    FOLD_AT = 8

    def __init__(self, r: Runner) -> None:
        self.r = r
        self.servers = []
        self.tables = []

    def build(self) -> dict:
        """A fresh, empty sink behind a started server, plus its first
        write: the cost of standing up a new ingest endpoint."""
        from horaedb_spark.metric.rules import rules_table_schema
        from horaedb_spark.server import ControlServer
        from horaedb_spark.storage.compaction import Compactor, SchedulerConfig
        from horaedb_spark.storage.table import ColumnarTable

        table = ColumnarTable(self.r.spark, self.r.fresh_dir("rw"), rules_table_schema(), gen.HOUR_MS)
        table.manifest.soft = self.FOLD_AT
        srv = ControlServer(Compactor(table, SchedulerConfig(input_sst_min_num=5)), write_table=table)
        srv.start()
        self.tables.append(table)
        self.servers.append(srv)
        st = {"table": table, "srv": srv, "stream": gen.RemoteWriteStream(self.r.seed)}
        op = self._write(st)
        if not op.ok:
            raise RuntimeError(f"first remote write failed: {op.note}")
        return st

    def _write(self, st) -> Op:
        batch = st["stream"].next_batch()

        def post():
            code, raw = _http(st["srv"].port, "/api/v1/write", batch.body)
            ok = code == 200 and json.loads(raw).get("written") == batch.n_samples
            return ok, None, "" if ok else f"write {code}: {raw[:200]!r}"

        op, _ = self.r.run("write", post, batch.n_samples)
        op.payload = len(batch.body)
        if op.ok:
            st["stream"].ack(batch)
        return op

    def _read(self, st) -> Op:
        from urllib.parse import quote

        stream = st["stream"]
        query, start, end = stream.read_query(self.WRITES_PER_READ)
        path = (
            f"/api/v1/query_range?query={quote(query)}"
            f"&start={start / 1000:.3f}&end={end / 1000:.3f}&step=15s"
        )

        def get():
            code, raw = _http(st["srv"].port, path)
            return code == 200, raw, "" if code == 200 else f"read {code}: {raw[:200]!r}"

        op, raw = self.r.run("read", get)
        if op.ok and _matrix(raw) != stream.expected_sum_by_job(start, end):
            op.ok, op.note = False, "read-after-write differs from the generator"
        return op

    def _compact(self, st) -> Op:
        def get():
            code, raw = _http(st["srv"].port, "/compact")
            return code == 200, None, "" if code == 200 else f"compact {code}"

        return self.r.run("compact", get)[0]

    def unit(self, st) -> list[Op]:
        ops = [self._write(st) for _ in range(self.WRITES_PER_READ)]
        ops.append(self._read(st))
        ops.append(self._compact(st))
        return ops

    def warm(self, st) -> list[Op]:
        return self.unit(st)

    def prepare(self, st) -> None:
        self.r.manifest = st["table"].manifest

    def final_check(self, st, out: Outcome) -> dict:
        """Every acknowledged sample reads back exactly once, with its value."""
        pdf = st["table"].scan().select("series_key", "ts_ms", "value").toPandas()
        got: dict = {}
        dup = 0
        for k, v in zip(zip(pdf["series_key"].tolist(), pdf["ts_ms"].tolist()), pdf["value"].tolist()):
            dup += k in got
            got[k] = v
        want = st["stream"].expected_rows()
        out.check(dup == 0 and got == want,
                  f"read-back: {len(got)} keys, {dup} duplicates, {len(want)} acknowledged")
        ssts = st["table"].manifest.all_ssts()
        nbytes = sum(s.size_bytes for s in ssts)
        return {
            "store_ssts": len(ssts),
            "store_bytes": nbytes,
            "store_samples": len(want),
            "bytes_per_sample": nbytes / max(len(want), 1),
        }

    def close(self) -> None:
        """Let background manifest folds finish, then stop the servers."""
        for t in self.tables:
            t.manifest.wait_for_background_fold()
        for srv in self.servers:
            srv.stop()


# ---------------------------------------------------------------- catalog

CATALOG = (
    "promql_fn_eval",
    "dedup_minhash_lsh",
    "dedup_quality_representatives",
    "ann_ivf_topk_large_queryset",
    "storage_scan_predicate_projection",
)


class Catalog:
    """Registry queries over generated tables, through their registry
    entry points to the noop sink, in a fixed order.  No HTTP server and
    no result cache."""

    name = "catalog"
    UNIT_S = 12.0  # nominal pass time on a 4-vCPU host (measured 10-15 s)

    def __init__(self, r: Runner) -> None:
        from horaedb_spark.queries.registry import QUERIES, queries_map

        self.r = r
        self.fns = queries_map()
        self.oracles = {n: QUERIES[n].oracle for n in CATALOG}

    def build(self) -> dict:
        """Generate the tables, open the DuckDB oracle over them, and load
        the storage query's table (its first call per table directory
        ingests the events into SSTs)."""
        from horaedb_spark.queries.oracle import duckdb_connection

        sf_dir = self.r.fresh_dir("tables")
        rows = gen.write_catalog_tables(sf_dir, self.r.seed)
        self.fns["storage_scan_predicate_projection"](self.r.spark, sf_dir)
        return {"sf_dir": sf_dir, "rows": rows, "con": duckdb_connection(sf_dir)}

    def _query(self, st, name: str) -> Op:
        def go():
            tr = self.r.tracer
            sp = tr.open(f"queries.{name}.build")
            try:
                df = self.fns[name](self.r.spark, st["sf_dir"])
            finally:
                tr.close(sp)
            sp = tr.open(f"queries.{name}.exec")
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                tr.close(sp)
            return True, None, ""

        return self.r.run(f"query:{name}", go)[0]

    def _checked(self, st, name: str) -> Op:
        """Build the query and compare its rows with DuckDB's."""
        from horaedb_spark.queries.oracle import compare_query

        def go():
            df = self.fns[name](self.r.spark, st["sf_dir"])
            res = compare_query(df, self.oracles[name], st["con"], name)
            return res.ok, None, "" if res.ok else f"{name}: {res.detail}"[:300]

        return self.r.run(f"check:{name}", go)[0]

    def warm(self, st) -> list[Op]:
        """One pass that checks every answer against DuckDB."""
        return [self._checked(st, n) for n in CATALOG]

    def prepare(self, st) -> None:
        st["con"].close()  # the checks are over; free DuckDB's memory

    def unit(self, st) -> list[Op]:
        return [self._query(st, n) for n in CATALOG]

    def final_check(self, st, out: Outcome) -> dict:
        return {"table_rows": st["rows"]}

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (RemoteWrite, Catalog)}
