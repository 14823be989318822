import numpy as np
import pyarrow.parquet as pq

from benchsuite import gen


def test_remote_write_stream_is_seeded():
    a, b, c = gen.RemoteWriteStream(7), gen.RemoteWriteStream(7), gen.RemoteWriteStream(8)
    for _ in range(3):
        ba, bb, bc = a.next_batch(), b.next_batch(), c.next_batch()
        assert ba.body == bb.body and ba.body != bc.body
        assert ba.n_samples == 200 * 10


def test_remote_write_expectations_follow_the_acked_batches():
    s = gen.RemoteWriteStream(3, n_series=4, n_scrapes=2, n_jobs=2)
    for _ in range(3):
        s.ack(s.next_batch())
    rows = s.expected_rows()
    assert len(rows) == 3 * 2 * 4
    _, start, end = s.read_query(2)
    want = s.expected_sum_by_job(start, end)
    # one step per scrape of the newest two batches, the newest included
    steps = sorted(want["job0"])
    assert steps == list(range(start, end + 1, gen.SCRAPE_MS)) and len(steps) == 4
    assert end == max(ts for _, ts in rows)
    last = s.acked[-1].values[-1]
    assert want["job0"][steps[-1]] == last[0] + last[2]


def test_catalog_tables_are_seeded(tmp_path):
    rows = gen.write_catalog_tables(str(tmp_path / "a"), 9)
    gen.write_catalog_tables(str(tmp_path / "b"), 9)
    gen.write_catalog_tables(str(tmp_path / "c"), 10)
    assert set(rows) == {"region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                         "events", "documents", "embeddings"}
    for name in rows:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    ev = pq.read_table(tmp_path / "a" / "events.parquet")
    assert not ev.equals(pq.read_table(tmp_path / "c" / "events.parquet"))
    assert np.all(np.diff(ev.column("ts").to_numpy().astype("int64")) > 0)
