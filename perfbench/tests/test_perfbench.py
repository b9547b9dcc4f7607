"""The benchmark's own tests (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gate  # noqa: E402
import loadgen  # noqa: E402
import spans  # noqa: E402
import workloads as W  # noqa: E402
from stats import percentile, self_time, summarize  # noqa: E402


def _cells(seed):
    r = W._rng(seed, "test-cells")
    return {p: sorted({"".join(r.choice("0123456789bcdefg") for _ in range(p))
                       for _ in range(300)}) for p in W.PRECISIONS}


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------


def test_same_seed_same_streams_and_batches():
    spec = W.geo_spec(7)
    assert spec == W.geo_spec(7)
    assert W.snapshot_requests(7, spec, 300) == W.snapshot_requests(7, W.geo_spec(7), 300)
    assert W.history_requests(7, _cells(1), 200) == W.history_requests(7, _cells(1), 200)
    assert W.live_requests(7, spec, _cells(1), 50) == W.live_requests(7, spec, _cells(1), 50)
    boot_a, batches_a = W.ingest_backlog(7, 5)
    boot_b, batches_b = W.ingest_backlog(7, 5)
    assert boot_a.equals(boot_b)
    assert all(a.equals(b) for a, b in zip(batches_a, batches_b))
    assert W.make_documents(7).equals(W.make_documents(7))
    assert W.make_embeddings(7).equals(W.make_embeddings(7))


def test_different_seed_different_streams_and_batches():
    assert W.geo_spec(7) != W.geo_spec(8)
    assert W.snapshot_requests(7, W.geo_spec(7), 300) != W.snapshot_requests(8, W.geo_spec(8), 300)
    assert W.history_requests(7, _cells(1), 200) != W.history_requests(8, _cells(1), 200)
    _, batches_a = W.ingest_backlog(7, 5)
    _, batches_b = W.ingest_backlog(8, 5)
    assert not any(a.equals(b) for a, b in zip(batches_a, batches_b))
    assert not W.make_documents(7).equals(W.make_documents(8))


def test_stream_properties():
    spec = W.geo_spec(3)
    snaps = W.snapshot_requests(3, spec, 500)
    assert 0.3 < W.repeat_share(snaps) < 1.0  # Zipf popularity repeats
    hist = W.history_requests(3, _cells(2), 500)
    assert W.repeat_share(hist) == 0.0
    assert all(1 <= len(q["params"]["geohashes"].split(",")) <= 50 for q in hist)
    live = W.live_requests(3, spec, _cells(2), 300)
    assert sum(q == W.REFERENCE_SNAPSHOT for q in live) == 100  # one in three
    assert sum(q["shape"] == "history" for q in live) == 100
    _, batches = W.ingest_backlog(3, 5)
    ends = [b.column("ts").to_pylist() for b in batches]
    assert all(e == sorted(e) for e in ends)
    assert all(a[-1] <= b[0] for a, b in zip(ends, ends[1:]))  # event-time ordered


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert percentile(range(19), 50) is None
    assert percentile(range(20), 50) == 9
    assert percentile(range(199), 95) is None
    assert percentile(range(200), 95) == 189
    s = summarize(list(range(30)))
    assert s == {"n": 30, "p50": 14}
    assert summarize([]) == {"n": 0}


def test_self_time_with_overlapping_children():
    # children cover [1, 6] and [8, 10] of the parent's [0, 10]
    assert self_time((0, 10), [(1, 4), (3, 6), (8, 12)]) == pytest.approx(3.0)
    assert self_time((0, 10), [(2, 5), (2, 5)]) == pytest.approx(7.0)
    assert self_time((0, 10), [(-5, -1), (11, 12)]) == pytest.approx(10.0)
    assert self_time((0, 10), []) == pytest.approx(10.0)


def test_layer_self_ms_subtracts_overlapping_children():
    def span(i, name, parent, lo, hi):
        return {"id": i, "name": name, "parent": parent, "op": "req-1",
                "start": lo, "end": hi, "attrs": {}}

    recs = [span(1, "api.handle", None, 0.0, 0.010),
            span(2, "api.envelope", 1, 0.001, 0.004),
            span(3, "api.envelope", 1, 0.003, 0.006)]
    own = spans.layer_self_ms(recs)["req-1"]
    assert own["api.handle"] == pytest.approx(5.0)
    assert own["api.envelope"] == pytest.approx(6.0)


def test_tracer_links_nested_spans_to_their_operation():
    t = spans.Tracer()
    with t.span("api.handle", op="req-9"):
        with t.span("plans.query.plan"):
            pass
    inner, outer = t.spans
    assert inner["parent"] == outer["id"] and inner["op"] == "req-9"
    assert outer["parent"] is None and outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


# ---------------------------------------------------------------------------
# correctness gate
# ---------------------------------------------------------------------------


@pytest.fixture()
def events_con(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    ev = W.make_events(5, 3000, 200, W.SERVING_METRICS, W.MONTH_START_MS, W.MONTH_END_MS)
    path = tmp_path / "events.parquet"
    pq.write_table(ev, path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _perturbed(data):
    out = [list(r) for r in data]
    k, v = out[len(out) // 2]
    out[len(out) // 2] = [k, v + 1e-3]
    return out


def test_gate_rejects_answer_perturbed_by_1e3(events_con):
    spec = W.geo_spec(5)
    req = {"shape": "history", "metric": "no2", "aggregate": "avg",
           "params": {"geohashes": "", "gh_precision": "6", "res": "day",
                      "from": str(W.MONTH_START_MS), "to": str(W.MONTH_END_MS)}}
    from explora_kafka_spark.functions import geo

    gh = geo.geohash_sql(spec.lat_sql(), spec.lon_sql(), 6)
    cells = [r[0] for r in events_con.execute(
        f"SELECT DISTINCT {gh} FROM events ORDER BY 1 LIMIT 20").fetchall()]
    req["params"]["geohashes"] = ",".join(cells)
    want = gate.expected_data(events_con, req, spec)
    assert len(want) > 5
    assert gate.data_matches(want, [list(r) for r in want])
    assert not gate.data_matches(want, _perturbed(want))
    assert gate.shape_error(req, {"columns": ["timestamp", "avg"], "data": want,
                                  "metadata": {"metric_id": "no2"}}) is None

    cols = ["k", "v"]
    assert gate.rows_digest(cols, want) == gate.rows_digest(cols, list(reversed(want)))
    assert gate.rows_digest(cols, want) != gate.rows_digest(cols, _perturbed(want))


def test_snapshot_oracle_matches_itself_and_rejects_perturbation(events_con):
    spec = W.geo_spec(5)
    req = {"shape": "snapshot", "metric": "pm10", "aggregate": "sum",
           "params": {"ts": str(W.MONTH_START_MS + 5), "res": "month",
                      "bbox": "70.0,-20.0,30.0,40.0", "gh_precision": "6"}}
    want = gate.expected_data(events_con, req, spec)
    assert len(want) > 5
    assert gate.data_matches(want, [list(r) for r in want])
    assert not gate.data_matches(want, _perturbed(want))
    assert not gate.data_matches(want, want[1:])


def test_registry_gate_fails_an_entry_without_result(tmp_path):
    pytest.importorskip("duckdb")
    import run

    for name, tbl in (("events", W.make_events(5, 50, 10, ("click",), W.MONTH_START_MS,
                                               W.MONTH_END_MS)),
                      ("documents", W.make_documents(5)), ("embeddings", W.make_embeddings(5))):
        pq.write_table(tbl, tmp_path / f"{name}.parquet")
    name = W.REGISTRY_SAMPLE[0][1]
    obs = {"load": None, "result": {"entry_digests": {}, "oracle_sql": {},
                                    "entry_errors": {name: "ValueError: boom"}}}
    problems = run.check("registry_sample", obs, str(tmp_path))
    assert len(problems) == len(W.REGISTRY_SAMPLE)
    assert f"{name}: no result (ValueError: boom)" in problems


@pytest.mark.parametrize("workload,kept", [("ingest_live", 6), ("ingest_race", 1)])
def test_ingest_store_retention(tmp_path, workload, kept):
    """ingest_live's store removes no version during a 5-batch drain (no
    reader can lose its version); ingest_race's keeps only the current one."""
    pytest.importorskip("pyspark")
    import sut

    from explora_kafka_spark.streaming import pipeline as P

    store = P.ParquetViewStore(str(tmp_path), keep_versions=sut.retained_versions(workload, 5))
    old = None
    for b in range(6):  # the bootstrap commit, then one per batch
        os.makedirs(tmp_path / f"v{b}")
        store._commit(f"v{b}", b, old)
        old = f"v{b}"
    assert sorted(p.name for p in tmp_path.iterdir() if p.is_dir()) == \
        [f"v{b}" for b in range(6 - kept, 6)]


def test_recheck_reports_failed_answers():
    reqs = W.history_requests(3, _cells(2), 40)
    sampled = loadgen.recheck(reqs, lambda req, rid: (500, b"boom"), seed=3, clients=3)
    assert len(sampled) == loadgen.SAMPLED_BODIES
    assert all(s["error"] == "HTTP 500" and s["data"] is None for s in sampled)
    assert sampled == loadgen.recheck(reqs, lambda req, rid: (500, b""), seed=3, clients=1)


def test_shape_errors():
    req = {"shape": "snapshot", "metric": "no2", "aggregate": "count",
           "params": {"gh_precision": "6"}}
    good = {"columns": ["geohash", "count"], "data": [["u15abc", 2], ["u15abd", 1]],
            "metadata": {"metric_id": "no2"}}
    assert gate.shape_error(req, good) is None
    assert gate.shape_error(req, dict(good, columns=["gh", "count"])) == "columns ['gh', 'count']"
    assert gate.shape_error(req, dict(good, data=[["u15abd", 1], ["u15abc", 2]])) == "key order"
    assert gate.shape_error(req, dict(good, data=[["u15ab", 1]])) == "geohash key"
    assert gate.shape_error(req, None) == "envelope keys"


# ---------------------------------------------------------------------------
# closed-loop driver
# ---------------------------------------------------------------------------


def test_closed_loop_never_exceeds_client_count():
    lock = threading.Lock()
    live = [0]
    seen_max = [0]
    r = W._rng(1, "test-loop")

    def send(req, rid):
        with lock:
            live[0] += 1
            seen_max[0] = max(seen_max[0], live[0])
        time.sleep(r.uniform(0.0, 0.004))
        with lock:
            live[0] -= 1
        if rid % 7 == 0:
            raise ConnectionError("refused")
        return 200, b"{}"

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        loop = loadgen.ClosedLoop(list(range(400)), 3, send, lambda: False)
        records = loop.run()
    finally:
        sys.setswitchinterval(old)
    assert len(records) == 400
    assert [r["i"] for r in records] == list(range(400))
    assert seen_max[0] <= 3 and loop.max_in_flight <= 3
    assert loop.in_flight == 0
    failed = [r for r in records if r["status"] != 200]
    assert len(failed) == len(range(0, 400, 7)) and all(r["error"] for r in failed)


def test_closed_loop_stops_when_told():
    calls = []

    def send(req, rid):
        calls.append(rid)
        return 200, b""

    loop = loadgen.ClosedLoop(list(range(100)), 2, send, lambda: len(calls) >= 10)
    records = loop.run()
    assert 10 <= len(records) <= 12  # at most one more per client after the stop
