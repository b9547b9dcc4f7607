"""explora-spark benchmark: one command per workload, run from the root of
a checkout.

    python3 perfbench/run.py --workload snapshot_map --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

The harness generates the workload's inputs from the seed, starts the
system under test (sut.py: one Spark session behind `server.serve`) and,
for the serving workloads, the closed-loop load generator (loadgen.py).
It then checks every output, prints each metric by name with its unit and
ends with one JSON line: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. `--workload all` runs every workload
untraced and traced and also reports the tracing overhead.

Exit status is 0 when every workload ran; the JSON's `correct` says
whether every output passed its correctness gate. A run that cannot
finish, or a directory that is not an explora-spark checkout, exits
non-zero without a JSON line. Scratch space lives in `.perfbench-work/`
under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

import gate
import spans as S
import workloads as W
from stats import summarize

HERE = os.path.dirname(os.path.abspath(__file__))
SERVING_CLIENTS = 4
LIVE_READERS = 3
#: a closed-loop serving run keeps going past --seconds until it has this
#: many answers, so its median has enough samples beyond it
MIN_SERVING_REQUESTS = 20
RUN_DEADLINE_S = 170

END_TO_END = (
    ("setup_s", "s"),
    ("latency_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
)


class BenchError(RuntimeError):
    pass


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def distinct_cells(paths: list[str], spec: W.GeoSpec) -> dict[int, list[str]]:
    import duckdb

    from explora_kafka_spark.functions import geo

    con = duckdb.connect()
    files = ", ".join(f"'{p}'" for p in paths)
    out = {}
    for p in W.PRECISIONS:
        gh = geo.geohash_sql(spec.lat_sql(), spec.lon_sql(), p)
        out[p] = [r[0] for r in con.execute(
            f"SELECT DISTINCT {gh} AS g FROM read_parquet([{files}]) ORDER BY g").fetchall()]
    con.close()
    return out


def make_inputs(workload: str, seed: int, seconds: float, inputs: str) -> dict:
    """Write the run's input files; returns facts about them."""
    os.makedirs(inputs)
    spec = W.geo_spec(seed)
    with open(os.path.join(inputs, "geo.json"), "w") as f:
        f.write(spec.to_json())
    facts: dict = {}
    if workload in ("snapshot_map", "history_series"):
        ev = W.make_events(seed, W.SERVING_EVENTS, W.SERVING_USERS, W.SERVING_METRICS,
                           W.MONTH_START_MS, W.MONTH_END_MS)
        pq.write_table(ev, os.path.join(inputs, "events.parquet"))
        cell_src = [os.path.join(inputs, "events.parquet")]
        facts["events"] = ev.num_rows
    elif workload in W.INGEST:
        boot, batches = W.ingest_backlog(seed, ingest_batches(seconds))
        pq.write_table(boot, os.path.join(inputs, "bootstrap.parquet"))
        os.makedirs(os.path.join(inputs, "batches"))
        cell_src = [os.path.join(inputs, "bootstrap.parquet")]
        for b, tbl in enumerate(batches):
            path = os.path.join(inputs, "batches", f"b{b:04d}.parquet")
            pq.write_table(tbl, path)
            # the file source orders a backlog by modification time
            os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
            cell_src.append(path)
        facts.update(bootstrap=boot.num_rows, batches=len(batches),
                     batch_rows=batches[0].num_rows)
    else:
        pq.write_table(W.make_events(seed, W.REGISTRY_EVENTS, W.REGISTRY_USERS,
                                     W.REGISTRY_EVENT_TYPES, W.MONTH_START_MS,
                                     W.MONTH_END_MS - 86_400_000),
                       os.path.join(inputs, "events.parquet"))
        pq.write_table(W.make_documents(seed), os.path.join(inputs, "documents.parquet"))
        pq.write_table(W.make_embeddings(seed), os.path.join(inputs, "embeddings.parquet"))
        return facts
    cells = distinct_cells(cell_src, spec)
    with open(os.path.join(inputs, "cells.json"), "w") as f:
        json.dump(cells, f)
    return facts


def ingest_batches(seconds: float) -> int:
    """Backlog length: about one micro-batch per two seconds of run time
    (a batch takes 2-4 s on four cores)."""
    return max(4, round(seconds / 2))


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def sut_env(root: str, work: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    confs = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{logs}",
                  "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    # a pinned initial heap keeps the JVM's resident peak from following GC
    # heap-growth decisions from run to run
    submit = "--driver-java-options -Xms1g "
    submit += " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    env.update(
        PYTHONPATH=os.pathsep.join([root, HERE]),
        TMPDIR=tmp,
        TZ="UTC",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(min(4, os.cpu_count() or 1)),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_SUBMIT_ARGS=submit,
        # every JVM, the spark-submit launcher included, keeps to the work dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONHASHSEED="0",
    )
    return env


def _start(cmd: list[str], env: dict, log: str) -> subprocess.Popen:
    with open(log, "ab") as f:
        return subprocess.Popen(cmd, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)


def _stop(proc: subprocess.Popen | None) -> None:
    """Stop a process and everything it started (its process group, e.g.
    the JVM and its Python workers), and wait until all of them are gone."""
    if proc is None:
        return
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            proc.poll()
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            proc.poll()  # reap the leader so the group can empty
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def _await(path: str, proc: subprocess.Popen, deadline: float, log: str) -> None:
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise BenchError(f"system under test exited early:\n{_tail(log)}")
        if time.monotonic() > deadline:
            raise BenchError(f"timed out waiting for {os.path.basename(path)}:\n{_tail(log)}")
        time.sleep(0.05)


def _tail(path: str, n: int = 30) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def _touch(path: str) -> None:
    with open(path, "w"):
        pass


def drive(workload: str, seed: int, seconds: float, trace: bool, root: str,
          work: str) -> dict:
    """Run one workload end to end; returns the raw observations."""
    t0 = time.perf_counter()
    inputs = os.path.join(work, "inputs")
    facts = make_inputs(workload, seed, seconds, inputs)
    phases = facts["phases_s"] = {"inputs": time.perf_counter() - t0}
    deadline = time.monotonic() + RUN_DEADLINE_S
    log = os.path.join(work, "sut.log")
    env = sut_env(root, work, trace)
    sut = loadgen = None
    try:
        sut = _start([sys.executable, os.path.join(HERE, "sut.py"), "--workload", workload,
                      "--work", work, "--root", root, "--trace", str(int(trace))], env, log)
        load = None
        if workload != "registry_sample":
            _await(os.path.join(work, "ready.json"), sut, deadline, log)
            phases["ready"] = time.perf_counter() - t0
            with open(os.path.join(work, "ready.json")) as f:
                port = json.load(f)["port"]
            live = workload in W.INGEST
            out = os.path.join(work, "load.json")
            cmd = [sys.executable, os.path.join(HERE, "loadgen.py"), "--workload", workload,
                   "--seed", str(seed), "--port", str(port), "--inputs", inputs,
                   "--out", out,
                   "--clients", str(LIVE_READERS if live else SERVING_CLIENTS)]
            if live:
                cmd += ["--seconds", str(RUN_DEADLINE_S), "--stop-file",
                        os.path.join(work, "drained.json"), "--go-file",
                        os.path.join(work, "go")]
            else:
                cmd += ["--seconds", str(seconds), "--min-requests", str(MIN_SERVING_REQUESTS)]
            loadgen = _start(cmd, dict(os.environ), os.path.join(work, "loadgen.log"))
            while loadgen.poll() is None:
                if sut.poll() is not None or time.monotonic() > deadline:
                    raise BenchError(f"run did not finish:\n{_tail(log)}")
                time.sleep(0.05)
            if loadgen.returncode != 0:
                raise BenchError(f"load generator failed:\n{_tail(os.path.join(work, 'loadgen.log'))}")
            with open(out) as f:
                load = json.load(f)
            phases["traffic_done"] = time.perf_counter() - t0
            _touch(os.path.join(work, "stop"))
        try:
            sut.wait(max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"system under test did not stop:\n{_tail(log)}") from None
        phases["sut_exit"] = time.perf_counter() - t0
        result_path = os.path.join(work, "result.json")
        if not os.path.exists(result_path):
            raise BenchError(f"no result from the system under test:\n{_tail(log)}")
        with open(result_path) as f:
            result = json.load(f)
        if sut.returncode != 0 or "error" in result:
            raise BenchError(f"system under test failed: {result.get('error')}\n{_tail(log)}")
    finally:
        _stop(loadgen)
        _stop(sut)
        phases["stopped"] = time.perf_counter() - t0
    return {"facts": facts, "result": result, "load": load}


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def check(workload: str, obs: dict, inputs: str) -> list[str]:
    """Every reason the run's outputs are wrong (empty when correct)."""
    import duckdb

    problems = []
    res, load = obs["result"], obs["load"]
    if load is not None:
        problems += [f"response {e['i']}: {e['error']}" for e in load["shape_errors"]]
        with open(os.path.join(inputs, "geo.json")) as f:
            spec = W.GeoSpec.from_json(f.read())
        if workload in W.INGEST:
            files = [os.path.join(inputs, "bootstrap.parquet"),
                     os.path.join(inputs, "batches", "*.parquet")]
        else:
            files = [os.path.join(inputs, "events.parquet")]
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute("CREATE VIEW events AS SELECT * FROM read_parquet([{}])".format(
            ", ".join(f"'{p}'" for p in files)))
        if not load["sampled"]:
            problems.append("no response sampled for the DuckDB check")
        for s in load["sampled"]:
            if s["error"]:
                problems.append(f"sampled request failed: {s['error']}: {s['request']}")
            elif not gate.data_matches(gate.expected_data(con, s["request"], spec), s["data"]):
                problems.append(f"response differs from DuckDB: {s['request']}")
        con.close()
    if workload in W.INGEST:
        sc = res["store_check"]
        if sc["store"] != sc["expected"]:
            problems.append(f"store {sc['store']} != batch lattice {sc['expected']}")
    elif workload == "registry_sample":
        oracles = res["oracle_sql"]
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in ("events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs, t + '.parquet')}')")
        for _m, name in W.REGISTRY_SAMPLE:
            got = res["entry_digests"].get(name)
            if got is None:
                problems.append(f"{name}: no result ({res['entry_errors'].get(name)})")
                continue
            try:
                cur = con.execute(oracles[name])
            except duckdb.Error as exc:
                problems.append(f"{name}: oracle failed: {exc}")
                continue
            want = gate.rows_digest([d[0] for d in cur.description], cur.fetchall())
            if got != want:
                problems.append(f"{name}: spark {got['rows']} rows != oracle {want['rows']} rows"
                                if got["rows"] != want["rows"] else f"{name}: digest differs")
        con.close()
    return problems


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _median(values: list[float], label: str) -> float:
    s = summarize(values)
    if "p50" in s:
        return s["p50"]
    if not values:
        raise BenchError(f"no successful {label} to time")
    print(f"warning: {label} median over only {len(values)} samples", file=sys.stderr)
    return statistics.median(values)


def end_to_end(workload: str, obs: dict) -> tuple[dict, dict]:
    """(metrics for the JSON line, named metrics for the report)."""
    res, load = obs["result"], obs["load"]
    named: dict = {"setup_s": (res["setup_s"], "s"), "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    if workload == "registry_sample":
        # 36 unlike entries are too few for a steady median: report the
        # mean entry time; the pass time gives the throughput
        per_entry = list(res["entry_s"].values())
        registry_s = res["pass_s"]
        named["registry_s"] = (registry_s, "s")
        latency = 1000.0 * sum(per_entry) / len(per_entry)
        rate = len(per_entry) / registry_s
    else:
        ok = [r["ms"] for r in load["records"] if r["status"] == 200]
        s = summarize(ok)
        if workload in W.INGEST:
            rows = obs["facts"]["batches"] * obs["facts"]["batch_rows"]
            named["ingest_rows_per_s"] = (rows / res["drain_s"], "rows/s")
            b = summarize([p["trigger_ms"] for p in res["progress"]], qs=(50,))
            named["ingest_batch_p50_ms"] = (b.get("p50"), f"ms (n={b['n']})")
            prefix = "live_read"
            rate = rows / res["drain_s"]
        else:
            prefix = "snapshot" if workload == "snapshot_map" else "history"
            rate = len(ok) / load["elapsed_s"]
            named[f"{prefix}_rps"] = (rate, "req/s")
        for q in ("p50", "p95"):
            named[f"{prefix}_{q}_ms"] = (s.get(q), f"ms (n={s['n']})")
        latency = _median(ok, f"{prefix} requests")
    metrics = {"setup_s": res["setup_s"], "latency_ms": latency,
               "throughput_per_s": rate, "peak_rss_mb": res["peak_rss_mb"]}
    return metrics, named


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


PER_LAYER_UNITS = {
    "server.overhead_ms": "ms", "server.response_bytes": "bytes",
    "api.validate_ms": "ms", "api.envelope_ms": "ms", "api.rows_returned": "count",
    "api.envelope.jobs": "count", "api.envelope.stages": "count",
    "api.envelope.tasks": "count", "api.envelope.task_ms": "ms",
    "api.envelope.sched_wait_ms": "ms", "api.envelope.scan_bytes": "bytes",
    "api.envelope.shuffle_bytes": "bytes",
    "plans.query.plan_ms": "ms",
    "functions.geo.cover_ms": "ms", "functions.geo.cover_cells": "count",
    "functions.geo.cover_prefixes": "count",
    "plans.views.build_ms": "ms", "plans.views.lattice_ms": "ms",
    "plans.views.materialize_ms": "ms", "plans.views.rows": "count",
    "plans.views.files": "count", "plans.views.bytes": "bytes",
    "streaming.pipeline.merge_ms": "ms", "streaming.pipeline.trigger_overhead_ms": "ms",
    "streaming.pipeline.bytes_rewritten": "bytes", "streaming.pipeline.bytes_linked": "bytes",
    "streaming.pipeline.store_files": "count", "streaming.pipeline.store_bytes": "bytes",
    "sources.load_ms": "ms",
}
PER_LAYER_UNITS.update({f"{m}_s": "s" for m, _e in W.REGISTRY_SAMPLE})


def per_layer(workload: str, obs: dict) -> dict:
    """Per-layer metrics from the spans, the Spark job groups and the
    client records. A layer a workload never calls reports 0. Times and
    counts are means per operation (request, micro-batch or set-up)."""
    res, load = obs["result"], obs["load"]
    spans = res["spans"]
    ops = S.spans_by_op(spans)
    selfms = S.layer_self_ms(spans)
    out = {k: 0.0 for k in PER_LAYER_UNITS}

    def dur_ms(s):
        return (s["end"] - s["start"]) * 1000.0

    reqs = {op: ss for op, ss in ops.items() if op and op.startswith("req-")}
    if load is not None and reqs:
        client = {f"req-{r['i']}": r for r in load["records"] if r["status"] == 200}
        done = [op for op in reqs if op in client]
        handle = {op: sum(dur_ms(s) for s in reqs[op] if s["name"] == "api.handle")
                  for op in done}
        out["server.overhead_ms"] = _mean(client[op]["ms"] - handle[op] for op in done)
        out["server.response_bytes"] = _mean(client[op]["bytes"] for op in done)
        for name, key in (("api.validate", "api.validate_ms"), ("api.envelope", "api.envelope_ms")):
            out[key] = _mean(sum(dur_ms(s) for s in reqs[op] if s["name"] == name) for op in done)
        out["api.rows_returned"] = _mean(
            sum(s["attrs"].get("rows", 0) for s in reqs[op] if s["name"] == "api.envelope")
            for op in done)
        out["plans.query.plan_ms"] = _mean(selfms[op].get("plans.query.plan", 0.0) for op in done)
        out["functions.geo.cover_ms"] = _mean(
            sum(dur_ms(s) for s in reqs[op] if s["name"].startswith("functions.geo."))
            for op in done)

        def cover(op, attr):
            covers = [s for s in reqs[op] if s["name"] == "functions.geo.cover"]
            comp = [s for s in reqs[op] if s["name"] == "functions.geo.compress"]
            cells = sum(s["attrs"].get("cells", 0) for s in covers)
            return cells if attr == "cells" or not comp else sum(
                s["attrs"].get("prefixes", 0) for s in comp)

        out["functions.geo.cover_cells"] = _mean(cover(op, "cells") for op in done)
        out["functions.geo.cover_prefixes"] = _mean(cover(op, "prefixes") for op in done)
        groups = res.get("job_groups", {})
        for k in ("jobs", "stages", "tasks", "task_ms", "sched_wait_ms", "scan_bytes",
                  "shuffle_bytes"):
            out[f"api.envelope.{k}"] = _mean(groups.get(op, {}).get(k, 0.0) for op in done)

    # each build_views call writes once; the rest of the build computes
    # the lattice's persisted rollup cascade
    out["plans.views.build_ms"] = _mean(
        dur_ms(s) for s in spans if s["name"] == "plans.views.build")
    out["plans.views.materialize_ms"] = _mean(
        dur_ms(s) for s in spans if s["name"] == "plans.views.materialize")
    out["plans.views.lattice_ms"] = out["plans.views.build_ms"] - out["plans.views.materialize_ms"]
    if "lattice" in res:
        out["plans.views.rows"] = res["lattice"]["rows"]
        out["plans.views.files"] = res["lattice"]["files"]
        out["plans.views.bytes"] = res["lattice"]["bytes"]
    out["sources.load_ms"] = _mean(dur_ms(s) for s in spans if s["name"] == "sources.load")

    merges = [s for s in spans if s["name"] == "streaming.pipeline.merge"]
    if merges:
        trig = {f"batch-{p['batch']}": p["trigger_ms"] for p in res["progress"]}
        out["streaming.pipeline.merge_ms"] = _mean(dur_ms(s) for s in merges)
        out["streaming.pipeline.trigger_overhead_ms"] = _mean(
            trig[s["op"]] - dur_ms(s) for s in merges if s["op"] in trig)
        out["streaming.pipeline.bytes_rewritten"] = _mean(
            s["attrs"]["bytes_rewritten"] for s in merges)
        out["streaming.pipeline.bytes_linked"] = _mean(s["attrs"]["bytes_linked"] for s in merges)
        out["streaming.pipeline.store_files"] = res["store"]["files"]
        out["streaming.pipeline.store_bytes"] = res["store"]["bytes"]

    if workload == "registry_sample":
        for module, name in W.REGISTRY_SAMPLE:
            out[f"{module}_s"] = res["entry_s"].get(name, 0.0)
    return out


def traffic(workload: str, obs: dict) -> dict:
    """Measured traffic properties of the run (for the report)."""
    from explora_kafka_spark.functions import geo
    from explora_kafka_spark.plans import query as Q

    load, res = obs["load"], obs["result"]
    props: dict = {}
    if load is not None:
        rows = [r.get("rows", 0) for r in load["records"] if r["status"] == 200]
        props["result_rows"] = summarize(rows, qs=(50, 90))
        props["repeat_share"] = round(load["repeat_share"], 3)
        covers = []
        for q in load["requests"]:
            if q["shape"] == "snapshot":
                n, w, s, e = (float(x) for x in q["params"]["bbox"].split(","))
                p = Q.adaptive_cover_precision(n, w, s, e, int(q["params"]["gh_precision"]))
                covers.append(geo.geohash_cover_size(n, w, s, e, p))
        if covers:
            props["cover_cells"] = summarize(covers, qs=(50, 90))
        props["max_in_flight"] = load["max_in_flight"]
        checked = [len(x["data"] or []) for x in load["sampled"]]
        props["checked"] = f"{len(checked)} answers vs DuckDB, {sum(map(bool, checked))} non-empty"
    if workload in W.INGEST:
        props["rows_per_batch"] = obs["facts"]["batch_rows"]
        props["batches"] = len(res["progress"])
    return props


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def run_one(workload: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    base = os.path.join(root, ".perfbench-work")
    work = os.path.join(base, f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    started = time.perf_counter()
    try:
        obs = drive(workload, seed, seconds, trace, root, work)
        inputs = os.path.join(work, "inputs")
        problems = check(workload, obs, inputs)
        obs["facts"]["phases_s"]["checked"] = time.perf_counter() - started
        metrics, named = end_to_end(workload, obs)
        if obs["load"] is not None:
            attempted = len(obs["load"]["records"])
            failed = sum(r["status"] != 200 for r in obs["load"]["records"])
            errors = [r["error"] or f"HTTP {r['status']}" for r in obs["load"]["records"]
                      if r["status"] != 200]
        else:
            attempted = len(W.REGISTRY_SAMPLE)
            failed = len(obs["result"]["entry_errors"])
            errors = [f"{k}: {v}" for k, v in obs["result"]["entry_errors"].items()]
        out = {"workload": workload, "seed": seed, "trace": trace, "metrics": metrics,
               "named": named, "attempted": attempted, "failed": failed,
               "errors": errors[:5], "problems": problems,
               "rss_parts_mb": obs["result"].get("rss_parts_mb", {}),
               "traffic": traffic(workload, obs), "facts": obs["facts"]}
        if trace:
            out["layers"] = per_layer(workload, obs)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            with open(os.path.join(base, "traces", f"{workload}-s{seed}.json"), "w") as f:
                json.dump({"spans": obs["result"]["spans"],
                           "job_groups": obs["result"].get("job_groups", {})}, f)
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        with open(os.path.join(base, "results", f"{workload}-s{seed}-t{int(trace)}.json"),
                  "w") as f:
            json.dump({k: v for k, v in out.items() if k != "layers"}, f)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(out: dict, base: str) -> None:
    w = out["workload"]
    print(f"== {w} seed={out['seed']} trace={int(out['trace'])}")
    for name, (value, unit) in out["named"].items():
        shown = "n/a (too few samples)" if value is None else f"{value:.4f}"
        print(f"  {name:24s} {shown} {unit}")
    print(f"  {'attempted':24s} {out['attempted']}")
    print(f"  {'failed':24s} {out['failed']}")
    for e in out["errors"]:
        print(f"    failure: {e[:160]}")
    for k, v in out["traffic"].items():
        print(f"  traffic.{k:16s} {v}")
    parts = ", ".join(f"{k} {v:.0f}" for k, v in out["rss_parts_mb"].items())
    print(f"  rss at peak (MB)         {parts}")
    print(f"  correct                  {not out['problems']}")
    for p in out["problems"][:10]:
        print(f"    problem: {p}")
    if out["trace"]:
        for k, v in out["layers"].items():
            print(f"  {k:40s} {v:.4f} {PER_LAYER_UNITS[k]}")
        untraced = os.path.join(base, "results", f"{w}-s{out['seed']}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                plain = json.load(f)["metrics"]
            for k, v in out["metrics"].items():
                print(f"  trace.overhead.{k:24s} {v - plain[k]:+.4f} "
                      f"({(v - plain[k]) / plain[k]:+.1%})")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*W.WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated harness still stops what it started (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "explora_kafka_spark", "server.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of an explora-spark checkout "
              "(explora_kafka_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench-work")
    if args.workload == "all":
        plan = [(w, t) for w in W.WORKLOADS for t in (False, True)]
    else:
        plan = [(args.workload, bool(args.trace))]
    ok = True
    for w, t in plan:
        try:
            last = run_one(w, args.seed, args.seconds, t, root)
        except BenchError as exc:
            print(f"perfbench: {w}: {exc}", file=sys.stderr)
            return 1
        report(last, base)
        ok = ok and not last["problems"]
    sys.stdout.flush()
    metrics = last["layers"] if last["trace"] else last["metrics"]
    units = PER_LAYER_UNITS if last["trace"] else dict(END_TO_END)
    print(json.dumps({
        "correct": ok, "attempted": last["attempted"], "failed": last["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
