"""The system under test: one Spark session driven through the engine's
public entry points, for one workload.

The harness (run.py) starts this process, waits for `ready.json`, drives
the traffic and then creates the `stop` file. This process answers HTTP
requests through `server.serve`, drains the ingest backlog or runs the
registry sample, and writes `result.json` before it exits. With
`--trace 1` it also wraps the engine's public functions in spans, tags
Spark jobs with one job group per operation and rolls up the Spark event
log per group.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import gate
import spans as S
import workloads as W

#: repeated set-ups per run; setup_s reports their median
SETUP_REPEATS = 3
#: registry entries run four at a time (one per core)
REGISTRY_THREADS = 4
POLL_S = 0.05


def _wait_for(path: str, timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            raise TimeoutError(f"no {os.path.basename(path)} within {timeout_s:.0f}s")
        time.sleep(POLL_S)


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of this process and of its JVM: the java
    process among its descendants whose parent is not itself a JVM (a
    child the JVM forks shares its pages until it execs)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    me = os.getpid()
    out = {"python": _vm_hwm_mb(me)}
    family, frontier = {me}, [me]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in family:
                family.add(child)
                frontier.append(child)
                if _exe(child) == "java" and _exe(p) != "java":
                    out["jvm"] = out.get("jvm", 0.0) + _vm_hwm_mb(child)
    return out


def readings_from(df, spec: W.GeoSpec):
    """events -> readings: metric = event_type, cell = precision-7 geohash
    of the synthetic position of `user_id`."""
    from pyspark.sql import functions as F

    from explora_kafka_spark.functions import geo

    return df.select(
        F.col("event_type").alias("metric_id"),
        geo.geohash_col(spec.lat_col(), spec.lon_col(), 7).alias("geohash"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )


def lattice_digest(df) -> dict:
    """Row count plus an order-insensitive hash of a lattice, floats
    rounded to 6 dp."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in ("metric_id", "precision", "res", "gh", "ts", "count")]
    cols += [F.round(c, gate.FLOAT_DP) for c in ("sum", "avg", "min", "max")]
    row = df.select(F.count("*").alias("n"),
                    F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")).collect()[0]
    return {"rows": row["n"], "hash": str(row["h"])}


def lattice_stats(path: str) -> dict:
    """Rows, parquet files and bytes of a lattice written by `build_views`."""
    import pyarrow.parquet as pq

    out = {k: v for k, v in tree_stats(path).items() if k != "inodes"}
    out["rows"] = pq.ParquetDataset(path).read(columns=["gh"]).num_rows
    return out


def tree_stats(path: str) -> dict:
    files = nbytes = 0
    inodes = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(root, n))
                files += 1
                nbytes += st.st_size
                inodes[(st.st_dev, st.st_ino)] = st.st_size
    return {"files": files, "bytes": nbytes, "inodes": inodes}


def retained_versions(workload: str, n_batches: int) -> int:
    """`keep_versions` of the ingest store: every version the run commits
    (the bootstrap and one per batch) on `ingest_live`, so a commit never
    removes a version a reader is scanning; the store's default of one on
    `ingest_race`, where a reader can lose its version mid-scan."""
    return n_batches + 1 if workload == "ingest_live" else 1


class Engine:
    """The Spark session plus the tracing hooks for one run."""

    def __init__(self, args):
        self.args = args
        self.inputs = os.path.join(args.work, "inputs")
        with open(os.path.join(self.inputs, "geo.json")) as f:
            self.spec = W.GeoSpec.from_json(f.read())
        t0 = time.perf_counter()
        from explora_kafka_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{args.workload}")
        self.session_s = time.perf_counter() - t0
        self.tracer = S.Tracer() if args.trace else None
        self.result: dict = {"session_s": self.session_s}

    # -- tracing -----------------------------------------------------------

    def job_group(self, op: str) -> None:
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(op, "perfbench", False)

    def trace_serving(self) -> None:
        """Spans around api, plans.query and functions.geo entry points."""
        if self.tracer is None:
            return
        from explora_kafka_spark import api
        from explora_kafka_spark.functions import geo
        from explora_kafka_spark.plans import query as Q

        t = self.tracer

        def request_op(args, kwargs):
            op = f"req-{args[3].get('rid', '?')}"
            self.job_group(op)
            return op

        for name in ("handle_snapshot", "handle_history"):
            t.wrap(api, name, "api.handle", op_of=request_op)
        for name in ("validate_snapshot", "validate_history"):
            t.wrap(api, name, "api.validate")
        t.wrap(api, "message_envelope", "api.envelope",
               on_result=lambda a, out: a.update(rows=len(out["data"])))
        for name in ("history", "history_interval", "snapshot_bbox_geohashing"):
            t.wrap(Q, name, "plans.query.plan")
        t.wrap(geo, "geohash_cover_bbox", "functions.geo.cover",
               on_result=lambda a, out: a.update(cells=len(out)))
        t.wrap(geo, "compress_cover", "functions.geo.compress",
               on_result=lambda a, out: a.update(prefixes=len(out)))

    def trace_setup(self) -> None:
        if self.tracer is None:
            return
        from explora_kafka_spark.plans import views as V
        from explora_kafka_spark.sources import tables

        also = []
        if "__spark_entry__" in sys.modules:
            also.append(sys.modules["__spark_entry__"])
        self.tracer.wrap(tables, "load_table", "sources.load", also=also)
        self.tracer.wrap(V, "build_views", "plans.views.build")
        self.tracer.wrap(V, "materialize_views", "plans.views.materialize")

    def measured(self) -> None:
        """End of the measured region: fix the memory peak."""
        parts = peak_rss_mb()
        self.result["peak_rss_mb"] = sum(parts.values())
        self.result["rss_parts_mb"] = parts

    def finish(self, out_path: str) -> None:
        if "peak_rss_mb" not in self.result:
            self.measured()
        if self.tracer is not None:
            self.tracer.enabled = False
            self.tracer.unwrap_all()
            self.result["spans"] = self.tracer.spans
        self.spark.stop()
        if self.tracer is not None:
            logs = os.path.join(self.args.work, "eventlog")
            rollup: dict = {}
            for name in os.listdir(logs):
                rollup.update(S.event_log_rollup(os.path.join(logs, name)))
            self.result["job_groups"] = rollup
        _write_json(out_path, self.result)

    # -- serving -------------------------------------------------------------

    def build_lattice(self, dest: str):
        from explora_kafka_spark.plans import views as V
        from explora_kafka_spark.sources import tables

        ev = tables.load_table(self.spark, self.inputs, "events")
        V.build_views(readings_from(ev, self.spec), dest, precisions=(7, 6))
        return self.spark.read.parquet(dest)

    def serve(self, ctx, during=None) -> None:
        """Serve `ctx` until the harness says stop; `during()` runs once
        the port is published."""
        from explora_kafka_spark import server

        srv = server.serve(ctx)
        try:
            _write_json(os.path.join(self.args.work, "ready.json"),
                        {"port": srv.server_address[1]})
            if during is not None:
                during()
            _wait_for(os.path.join(self.args.work, "stop"), 170)
            self.measured()
        finally:
            srv.shutdown()
            srv.server_close()

    def run_serving(self) -> None:
        from explora_kafka_spark import server

        self.trace_setup()
        builds = []
        lattice = None
        for i in range(SETUP_REPEATS):
            dest = os.path.join(self.args.work, f"views{i}")
            t0 = time.perf_counter()
            with self._span("setup", f"setup-{i}"):
                lattice = self.build_lattice(dest)
            builds.append(time.perf_counter() - t0)
        self.result["setup_builds_s"] = builds
        self.result["setup_s"] = self.session_s + statistics.median(builds)
        self.result["lattice"] = lattice_stats(dest)
        self.trace_serving()
        self.serve(server.EngineContext(lattice, now_ms=W.NOW_MS))

    def _span(self, name: str, op: str):
        if self.tracer is None:
            from contextlib import nullcontext
            return nullcontext()
        self.job_group(op)
        return self.tracer.span(name, op=op)

    # -- ingest_live / ingest_race ---------------------------------------------

    def run_ingest(self) -> None:
        from explora_kafka_spark import server
        from explora_kafka_spark.sources import tables
        from explora_kafka_spark.streaming import pipeline as P

        self.trace_setup()
        boot = readings_from(tables.load_table(self.spark, self.inputs, "bootstrap"),
                             self.spec)
        boots = []
        keep = retained_versions(self.args.workload,
                                 len(os.listdir(os.path.join(self.inputs, "batches"))))
        self.result["keep_versions"] = keep
        for i in range(SETUP_REPEATS):
            store = P.ParquetViewStore(os.path.join(self.args.work, f"store{i}"),
                                       keep_versions=keep)
            t0 = time.perf_counter()
            with self._span("setup", f"setup-{i}"):
                store.merge_readings(self.spark, boot, precisions=(7, 6))
            boots.append(time.perf_counter() - t0)
        self.result["setup_builds_s"] = boots
        self.result["setup_s"] = self.session_s + statistics.median(boots)
        self.store = store
        self.trace_serving()
        self.trace_merges(store)

        engine = self

        class LiveContext(server.EngineContext):
            """Every request reads the store's current version."""

            @property
            def lattice(self):
                return engine.store.read(engine.spark)

            @lattice.setter
            def lattice(self, _value):
                pass

        self.serve(LiveContext(None, now_ms=W.NOW_MS), during=self.drain)
        self.check_store()

    def drain(self) -> None:
        """Once the readers run, drain the backlog, one file per trigger."""
        from explora_kafka_spark.streaming import pipeline as P

        _wait_for(os.path.join(self.args.work, "go"), 120)
        batches = os.path.join(self.inputs, "batches")
        schema = self.spark.read.parquet(batches).schema
        stream = readings_from(P.file_reading_stream(self.spark, batches, schema), self.spec)
        q = (P.streaming_view_pipeline(stream, self.store,
                                       os.path.join(self.args.work, "checkpoint"),
                                       precisions=(7, 6))
             .trigger(availableNow=True).start())
        t0 = time.perf_counter()
        done = q.awaitTermination(150)
        drain_s = time.perf_counter() - t0
        if not done:
            q.stop()
            raise TimeoutError("ingest backlog not drained within 150 s")
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        self.result["drain_s"] = drain_s
        self.result["progress"] = [
            {"batch": p["batchId"], "rows": p["numInputRows"],
             "trigger_ms": p["durationMs"].get("triggerExecution", 0)}
            for p in q.recentProgress if p["numInputRows"] > 0]
        self.result["store"] = {k: v for k, v in
                                tree_stats(os.path.join(self.store.path,
                                                        self.store.current_version())).items()
                                if k != "inodes"}
        _write_json(os.path.join(self.args.work, "drained.json"), {"drain_s": drain_s})

    def trace_merges(self, store) -> None:
        """Span per micro-batch merge, plus bytes rewritten vs hard-linked
        (inode comparison between the version before and after)."""
        if self.tracer is None:
            return
        merge = store.merge_readings

        def traced_merge(spark, readings, **kwargs):
            op = f"batch-{kwargs.get('batch_id')}"
            self.job_group(op)
            old = tree_stats(os.path.join(store.path, store.current_version()))["inodes"]
            with self.tracer.span("streaming.pipeline.merge", op=op) as attrs:
                out = merge(spark, readings, **kwargs)
            new = tree_stats(os.path.join(store.path, store.current_version()))["inodes"]
            attrs["bytes_linked"] = sum(sz for ino, sz in new.items() if ino in old)
            attrs["bytes_rewritten"] = sum(sz for ino, sz in new.items() if ino not in old)
            return out

        store.merge_readings = traced_merge

    def check_store(self) -> None:
        """After the drain, outside the timed region: the store against the
        batch lattice over the same readings, written by `build_views`. On
        this workload that rebuild is the traced `plans.views` work."""
        from explora_kafka_spark.plans import views as V

        events = self.spark.read.parquet(os.path.join(self.inputs, "bootstrap.parquet"),
                                         os.path.join(self.inputs, "batches"))
        dest = os.path.join(self.args.work, "batch_views")
        with self._span("gate", "gate"):
            V.build_views(readings_from(events, self.spec), dest, precisions=(7, 6))
        self.result["lattice"] = lattice_stats(dest)
        if self.tracer is not None:
            self.tracer.enabled = False
        self.result["store_check"] = {
            "store": lattice_digest(self.store.read(self.spark)),
            "expected": lattice_digest(self.spark.read.parquet(dest)),
        }

    # -- registry_sample ---------------------------------------------------------

    def run_registry(self) -> None:
        from explora_kafka_spark.sources import tables

        t0 = time.perf_counter()
        import __spark_entry__ as E

        import_s = time.perf_counter() - t0
        self.trace_setup()
        loads = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            for name in ("events", "documents", "embeddings"):
                tables.load_table(self.spark, self.inputs, name).schema
            loads.append(time.perf_counter() - t0)
        self.result["setup_builds_s"] = loads
        self.result["setup_s"] = self.session_s + import_s + statistics.median(loads)

        qs = E.queries()
        times: dict[str, float] = {}
        results: dict[str, tuple] = {}
        errors: dict[str, str] = {}

        def materialize(entry: tuple[str, str]) -> None:
            """Full materialization by `collect()`: every row reaches the
            driver (no `.count()` pruning), and the rows the entry returns
            are the ones the correctness gate digests, so no second pass
            re-runs the entries."""
            module, name = entry
            t0 = time.perf_counter()
            try:
                with self._span(f"entry.{module}", f"entry-{name}"):
                    df = qs[name](self.spark, self.inputs)
                    rows = df.collect()
                times[name] = time.perf_counter() - t0
                results[name] = (df.columns, rows)
            except Exception as exc:  # noqa: BLE001 — counted as failed
                errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"

        # one pass, whatever --seconds says: a second, warm pass would
        # change what registry_s means as soon as a pass got shorter
        t_pass = time.perf_counter()
        with ThreadPoolExecutor(max_workers=REGISTRY_THREADS) as pool:
            list(pool.map(materialize, W.REGISTRY_SAMPLE))
        self.result["pass_s"] = time.perf_counter() - t_pass
        self.result["entry_s"] = times
        self.result["entry_errors"] = errors
        self.measured()
        if self.tracer is not None:
            self.tracer.enabled = False
        self.result["entry_digests"] = {name: gate.rows_digest(cols, rows)
                                        for name, (cols, rows) in results.items()}
        oracles = E.oracle_sql()
        self.result["oracle_sql"] = {name: oracles[name] for _m, name in W.REGISTRY_SAMPLE}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=W.WORKLOADS, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    eng = Engine(args)
    out = os.path.join(args.work, "result.json")
    try:
        if args.workload == "registry_sample":
            eng.run_registry()
        elif args.workload in W.INGEST:
            eng.run_ingest()
        else:
            eng.run_serving()
    except Exception as exc:
        eng.result["error"] = f"{type(exc).__name__}: {exc}"
        raise
    finally:
        eng.finish(out)


if __name__ == "__main__":
    main()
