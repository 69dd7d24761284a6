"""Tests for the benchmark's own helpers.

    PYTHONPATH=. python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from perfbench import eventlog, loadgen, reference
from perfbench.stats import digest, min_samples, percentile, row_crc

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- percentile with sample count ------------------------------------------


def test_min_samples_rule():
    # ten samples must lie beyond the percentile
    assert min_samples(0.5) == 20
    assert min_samples(0.9) == 100
    assert min_samples(0.99) == 1000
    with pytest.raises(ValueError):
        min_samples(1.0)


def test_percentile_is_nearest_rank_with_count():
    vals = list(range(1, 101))  # 1..100
    p50, p90, p99 = percentile(vals, 0.5), percentile(vals, 0.9), percentile(vals, 0.99)
    assert (p50.value, p50.n) == (50, 100)
    assert (p90.value, p99.value) == (90, 99)
    assert p50.supported and p90.supported and not p99.supported
    assert not percentile(vals[:99], 0.9).supported
    assert percentile(list(range(1000)), 0.99).supported
    assert percentile([7.0], 0.5).value == 7.0 and not percentile([7.0], 0.5).supported
    with pytest.raises(ValueError):
        percentile([], 0.5)


# -- open-loop due time and lateness ---------------------------------------


def test_record_accounting():
    r = loadgen.Record(0, due=1.0, free=1.3, sent=1.31, done=1.41)
    assert r.queue == pytest.approx(0.3)  # waited for a connection
    assert r.late == pytest.approx(0.01)  # generator slop after that
    assert r.service == pytest.approx(0.10)
    assert r.latency == pytest.approx(0.41)  # counted from the due time
    early = loadgen.Record(1, due=2.0, free=1.5, sent=2.0, done=2.05)
    assert early.queue == 0.0 and early.late == 0.0


def test_poisson_due_is_seeded_and_increasing():
    a, b = loadgen.poisson_due(50, 500, 7), loadgen.poisson_due(50, 500, 7)
    assert a == b != loadgen.poisson_due(50, 500, 8)
    assert all(x < y for x, y in zip(a, a[1:]))
    assert 500 / a[-1] == pytest.approx(50, rel=0.15)


def test_backlog_grows():
    steady = [loadgen.Record(i, due=i * 0.01, free=i * 0.01) for i in range(30)]
    assert not loadgen.backlog_grows(steady, 0.05)
    growing = [loadgen.Record(i, due=i * 0.01, free=i * 0.02) for i in range(30)]
    assert loadgen.backlog_grows(growing, 0.05)


@pytest.fixture
def slow_server():
    class H(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            time.sleep(0.05)
            body = json.dumps([self.path]).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    yield srv.server_address[1]
    srv.shutdown()
    srv.server_close()
    th.join()


def test_open_loop_counts_connection_wait_against_latency(slow_server):
    # three requests due together on one connection: the later ones wait
    # for it, and that wait is part of their latency
    recs = loadgen.run("127.0.0.1", slow_server, ["/a", "/b", "/c"], [0.0, 0.0, 0.0], conns=1)
    assert [r.body for r in recs] == [["/a"], ["/b"], ["/c"]]
    lat = sorted(r.latency for r in recs)
    assert lat[0] >= 0.05 and lat[2] >= 0.15
    assert sorted(r.queue for r in recs)[2] >= 0.1
    assert all(r.service >= 0.05 for r in recs)
    assert all(r.late < 0.05 for r in recs)
    # spaced-out arrivals never wait for the connection
    recs = loadgen.run("127.0.0.1", slow_server, ["/a", "/b"], [0.0, 0.2], conns=1)
    assert all(r.queue < 0.01 for r in recs)
    assert recs[1].sent >= 0.2


# -- result digests ---------------------------------------------------------


def test_digest_is_order_independent_and_discriminating():
    rows = [("q1", "w1", 1), ("q1", "w2", 2), ("q2", "w1", 0)]
    assert digest(rows) == digest(reversed(rows))
    assert digest(rows) != digest(rows[:2] + [("q2", "w1", 1)])
    assert digest(rows)[0] == 3
    assert row_crc(("a", "b", 1)) == row_crc(["a", "b", "1"])


def test_digest_equals_spark_digest():
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    from perfbench.stats import spark_digest

    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try:
        rows = [("Customer#000000001", "Customer#00000001", 1), ("ünï", "x\ty", 2)]
        df = spark.createDataFrame(rows, "q string, w string, d int")
        assert spark_digest(df, ["q", "w", "d"]) == digest(rows)
        assert spark_digest(df.where("d > 5"), ["q"]) == (0, 0)
    finally:
        spark.stop()
    assert pyspark


def test_reference_deletion_filter_is_exact():
    words = ["Customer#000000012", "Customer#000000021", "Customer#000000120", "Custom", "abc"]
    queries = ["Customer#00000012", "Customr#000000021", "ab", "Customer#000001200"]
    got = sorted(reference.fuzzy_rows(queries, words, 2, 1))

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    brute = sorted((q, w, lev(q, w)) for q in queries for w in words if lev(q, w) <= 2)
    assert got == brute


def test_near_dup_reference_unions_chains():
    texts = ["a b c d e f", "a b c d e f g", "a b c d e f g h", "z y x w v"]
    # 0~1 and 1~2 are above 0.8; 0~2 alone is not: the chain keeps only 0
    assert (0, 2) not in reference.jaccard_pairs(texts, 0.8)
    assert reference.near_dup_survivors([0, 1, 2, 3], texts, 0.8) == [0, 3]


# -- event-log fold ---------------------------------------------------------


def test_fold_recorded_eventlog():
    with open(os.path.join(DATA, "eventlog.jsonl")) as f:
        events = [json.loads(line) for line in f]
    with open(os.path.join(DATA, "spans.json")) as f:
        spans = json.load(f)
    folds = eventlog.fold(events, [(s["t0_ms"], s["t1_ms"]) for s in spans])
    main, pool, idle = folds
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    groups = [e["Properties"].get("spark.jobGroup.id") for e in starts]
    assert main.jobs == groups.count("main") >= 2
    assert main.python_tasks == 2  # the mapInPandas stage, one task per partition
    assert main.py["py_bytes_in"] > 0 and main.py["py_bytes_out"] > 0
    # submitted from a thread that did not inherit the group: found by time
    assert "pool" not in groups and groups.count(None) == pool.jobs >= 1
    assert pool.python_tasks == 0 and pool.tasks >= 1
    assert idle.jobs == 0 and idle.tasks == 0
    assert main.jobs + pool.jobs == len(starts)
    for f, s in zip(folds, spans):
        assert 0 <= f.job_union_ms <= s["t1_ms"] - s["t0_ms"]
    total = eventlog.Fold()
    for f in folds:
        total.add(f)
    n_tasks = sum(1 for e in events if e["Event"] == "SparkListenerTaskEnd")
    assert total.tasks == n_tasks


def test_fold_prefers_innermost_span():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 150, "Stage IDs": [0]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 180},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 250, "Stage IDs": [1]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 400},
    ]
    outer, inner = eventlog.fold(events, [(100, 300), (140, 200)])
    assert (outer.jobs, inner.jobs) == (1, 1)
    assert inner.job_union_ms == 30 and outer.job_union_ms == 50  # clipped at 300
