"""Seeded input generators.  The same seed gives byte-identical inputs, and
every generator also returns what the program's answers must be, so the
workloads can check correctness without trusting the program.

Remote-write samples sit on the 15 s step grid, so a read ending at the
newest sample has a step that selects it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, hour-aligned
SCRAPE_MS = 15_000
HOUR_MS = 3_600_000


def series_key(labels: dict[str, str]) -> str:
    """The write sink's key for a label set (sorted ``k=v`` pairs)."""
    return ",".join(f"{k}={v}" for k, v in sorted(labels.items()))


def sample_ts(k) -> np.ndarray:
    """Timestamp of scrape ``k`` (scalar or array)."""
    return T0_MS + np.asarray(k, dtype=np.int64) * SCRAPE_MS


# ----------------------------------------------------------- remote write


@dataclass
class WriteBatch:
    body: bytes
    first_scrape: int
    n_scrapes: int
    values: np.ndarray  # (n_scrapes, n_series) float64
    n_samples: int


@dataclass
class RemoteWriteStream:
    """A Prometheus remote-write stream: ``n_series`` counters under one
    metric name, ``n_scrapes`` scrapes per request body, scraped every
    15 s.  Values are small integers held as floats, so every sum the read
    path computes is exact."""

    seed: int
    n_series: int = 200
    n_scrapes: int = 10
    n_jobs: int = 5
    metric: str = "http_requests_total"
    next_scrape: int = 0
    acked: list[WriteBatch] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng(self.seed)
        self.labels = [
            {"job": f"job{i % self.n_jobs}", "instance": f"host{i:03d}"}
            for i in range(self.n_series)
        ]
        self.keys = [series_key(lb) for lb in self.labels]
        self.jobs = np.array([i % self.n_jobs for i in range(self.n_series)])
        self._last = np.zeros(self.n_series)

    def next_batch(self) -> WriteBatch:
        from horaedb_spark.metric.ingest import encode_write_request

        steps = self._rng.integers(0, 20, size=(self.n_scrapes, self.n_series))
        values = self._last + np.cumsum(steps, axis=0).astype(np.float64)
        self._last = values[-1]
        k0 = self.next_scrape
        ts = [int(t) for t in sample_ts(np.arange(k0, k0 + self.n_scrapes))]
        body = encode_write_request(
            [
                {
                    "name": self.metric,
                    "labels": lb,
                    "samples": list(zip(values[:, i].tolist(), ts)),
                }
                for i, lb in enumerate(self.labels)
            ]
        )
        self.next_scrape += self.n_scrapes
        return WriteBatch(body, k0, self.n_scrapes, values, values.size)

    def ack(self, batch: WriteBatch) -> None:
        self.acked.append(batch)

    def read_query(self, batches: int) -> tuple[str, int, int]:
        """(query, start_ms, end_ms) over the newest ``batches`` acked
        bodies, ending at the newest sample: one evaluation step per
        scrape interval."""
        last = self.acked[-1]
        first = self.acked[-batches] if len(self.acked) >= batches else self.acked[0]
        start = int(sample_ts(first.first_scrape))
        end = int(sample_ts(last.first_scrape + last.n_scrapes - 1))
        return f"sum by (job) ({self.metric})", start, end

    def expected_sum_by_job(self, start_ms: int, end_ms: int) -> dict[str, dict[int, float]]:
        """{job: {step_ms: value}} for the read query: the step at each
        scrape time selects that scrape."""
        by_scrape = {}
        for b in self.acked:
            for j in range(b.n_scrapes):
                by_scrape[b.first_scrape + j] = b.values[j]
        out: dict[str, dict[int, float]] = {}
        for g in range(start_ms, end_ms + 1, SCRAPE_MS):
            vals = by_scrape[(g - T0_MS) // SCRAPE_MS]
            for jb in range(self.n_jobs):
                out.setdefault(f"job{jb}", {})[g] = float(vals[self.jobs == jb].sum())
        return out

    def expected_rows(self) -> dict[tuple[str, int], float]:
        """Every acknowledged sample: {(series_key, ts_ms): value}."""
        out = {}
        for b in self.acked:
            ts = sample_ts(np.arange(b.first_scrape, b.first_scrape + b.n_scrapes))
            for j, t in enumerate(ts.tolist()):
                for i, key in enumerate(self.keys):
                    out[(key, t)] = float(b.values[j, i])
        return out


# ---------------------------------------------------------------- catalog

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]


def write_catalog_tables(out_dir: str, seed: int) -> dict[str, int]:
    """The ten registry tables as parquet, shaped like the repository's
    testdata at sf0.01.
    Timestamps are naive microsecond TIMESTAMPs, read identically by Spark
    (UTC session) and DuckDB.  Returns row counts per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}

    def write(name: str, cols: dict) -> None:
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    us = lambda a: pa.array(a.astype("datetime64[us]"), pa.timestamp("us"))  # noqa: E731

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust, n_supp, n_part, n_ord, n_ev = 1500, 100, 2000, 15000, 10000
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999, 9999, n_supp),
    })
    adj = ["small", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget"]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[i % 7]} {noun[(i // 7) % 7]}" for i in rng.permutation(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    day = np.timedelta64(1, "D")
    o_date = np.datetime64("1995-01-01") + rng.integers(0, 1500, n_ord) * day
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": us(o_date),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_order)
    write("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": us(np.repeat(o_date, lines) + rng.integers(1, 120, n_li) * day),
    })
    # events: distinct microsecond timestamps over 30 days
    span_us = 30 * 86_400 * 1_000_000
    ev_us = np.sort(rng.choice(span_us, n_ev, replace=False))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": us(np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word strings; one in ten is a light edit of an
    # earlier document, so the near-duplicate detectors have work to do
    n_doc = 500
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((500, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, 500), pa.int32()),
    })
    return rows
