"""The system-under-test process: starts Spark through the program's own
session factory, sets the workload's system up several times, runs or
serves the workload, reads Spark's public progress and status APIs, and
writes one JSON result. Started by ``run.py``; never run by hand.

    python3 perfbench/system.py <run_dir>/config.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
from collections.abc import Callable
from datetime import datetime

from common import pct, tree_peak_rss_mb
from tracer import Tracer, dist


# Each workload function returns its raw result and a teardown to run
# once the result is written.


def _wait_path(path: str, limit_s: float) -> None:
    """Wait for a file the orchestrator publishes."""
    deadline = time.monotonic() + limit_s
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            raise TimeoutError(f"{os.path.basename(path)} never appeared")
        time.sleep(0.05)


def _program():
    """Import the program's layers; a checkout without them exits 3."""
    try:
        from data_ingestion_api_system_loop_ai_spark import http_api, session
        from data_ingestion_api_system_loop_ai_spark.operators import (
            contamination,
            corpus_pipeline,
            dedup,
            pipeline,
            quality,
        )
        from data_ingestion_api_system_loop_ai_spark.streaming import live, serving
    except ImportError as exc:
        print(f"program not importable: {exc}", file=sys.stderr)
        sys.exit(3)
    return {
        "http_api": http_api, "session": session, "pipeline": pipeline,
        "live": live, "serving": serving, "corpus_pipeline": corpus_pipeline,
        "dedup": dedup, "quality": quality, "contamination": contamination,
    }


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _bounded(fn, what: str, limit_s: float) -> None:
    """Run ``fn`` on a helper thread and give up after ``limit_s``.
    Stopping a streaming query while a ``foreachBatch`` callback runs
    can hang inside py4j; a hang must fail the run, not stall it."""
    t = threading.Thread(target=fn, daemon=True)
    t.start()
    t.join(limit_s)
    if t.is_alive():
        raise TimeoutError(f"{what} did not stop")


def _stop_spark(spark, srv=None, limit_s: float = 30.0) -> None:
    """Stop the listener, every streaming query and the SparkContext."""

    def stop():
        if srv is not None:
            srv.shutdown()
        for q in spark.streams.active:
            q.stop()
        spark.stop()

    _bounded(stop, "Spark", limit_s)


class JobCounter:
    """Spark jobs and tasks submitted in a wall-clock window, read from
    the application status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def _scan(self, t0: float, t1: float):
        jl = self.sc._jsc.sc().statusStore().jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            sub = j.submissionTime()
            if not sub.isEmpty() and t0 <= sub.get().getTime() / 1000.0 <= t1:
                g = j.jobGroup()
                yield (None if g.isEmpty() else g.get()), j.numTasks()

    def jobs(self, t0: float, t1: float) -> list[int]:
        """Task counts of the jobs submitted in ``[t0, t1]``."""
        return [n for _g, n in self._scan(t0, t1)]

    def jobs_by_group(self, t0: float, t1: float) -> dict[str, int]:
        out: dict[str, int] = {}
        for g, _n in self._scan(t0, t1):
            out[g] = out.get(g, 0) + 1
        return out


def _progress(query, t0: float, t1: float) -> list[dict]:
    return [
        json.loads(p.json)
        for p in query.recentProgress
        if t0 <= _epoch(p.timestamp) <= t1
    ]


def _progress_layer(prefix: str, progs: list[dict]) -> dict[str, float]:
    def med(xs):
        return pct(xs, 50) if xs else 0.0

    d = [p.get("durationMs", {}) for p in progs]
    st = [p.get("stateOperators") or [] for p in progs]
    return {
        f"{prefix}.addBatch_ms": med([x.get("addBatch", 0) for x in d]),
        f"{prefix}.getBatch_ms": med([x.get("getBatch", 0) for x in d]),
        f"{prefix}.queryPlanning_ms": med([x.get("queryPlanning", 0) for x in d]),
        f"{prefix}.walCommit_ms": med([x.get("walCommit", 0) for x in d]),
        f"{prefix}.input_rows": med([p.get("numInputRows", 0) for p in progs]),
        f"{prefix}.state_rows": med([sum(s.get("numRowsTotal", 0) for s in x) for x in st]),
        f"{prefix}.state_bytes": med([sum(s.get("memoryUsedBytes", 0) for s in x) for x in st]),
    }


def _wrap_serving(tracer: Tracer, mods: dict) -> None:
    """upsert / lookup spans plus the write-side counts."""
    ST = mods["serving"].ServingTable
    conflict = mods["serving"].ConcurrentWriteConflict
    upsert, lookup = ST.upsert, ST.lookup

    def traced_upsert(self, batch_df):
        def run():
            try:
                v = upsert(self, batch_df)
            except conflict:
                tracer.current_attrs()["conflict"] = 1
                raise
            vdir = os.path.join(self.path, f"v={v}")
            nb = nbytes = 0
            for dirpath, _dirs, files in os.walk(vdir):
                if os.path.basename(dirpath).startswith("bucket="):
                    nb += 1
                nbytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
            tracer.current_attrs().update(buckets=nb, bytes=nbytes)
            return v

        return tracer.call("serving.upsert", run)

    def traced_lookup(self, spark, **kv):
        return tracer.call("serving.lookup", lookup, self, spark, **kv)

    ST.upsert, ST.lookup = traced_upsert, traced_lookup


def _upsert_layer(tracer: Tracer, t0: float, t1: float) -> dict[str, float]:
    ups = [s for s in tracer.spans if s[3] == "serving.upsert" and t0 <= s[4] <= t1]
    ok = [s for s in ups if "conflict" not in s[6]]
    out = {"serving.upsert.calls": float(len(ok))}
    out.update(dist("serving.upsert", [(s[5] - s[4]) * 1000 for s in ok]))
    out["serving.upsert.buckets_touched"] = (
        pct([s[6].get("buckets", 0) for s in ok], 50) if ok else 0.0
    )
    out["serving.upsert.bytes_written"] = (
        pct([s[6].get("bytes", 0) for s in ok], 50) if ok else 0.0
    )
    out["serving.upsert.conflict_retries"] = float(len(ups) - len(ok))
    return out


def _session_layer(jc: JobCounter, t0: float, t1: float, n_ops: int) -> dict[str, float]:
    jobs = jc.jobs(t0, t1)
    return {
        "session.spark_jobs_per_op": len(jobs) / max(n_ops, 1),
        "session.tasks_per_job": sum(jobs) / max(len(jobs), 1),
    }


def _heap_pools(spark) -> list:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def _heap_window_start(spark) -> None:
    for p in _heap_pools(spark):
        p.resetPeakUsage()


def _heap_mb(spark) -> dict[str, float]:
    """The driver JVM's heap over the measured window: the sum of the
    heap pools' peak use since ``_heap_window_start``, and the heap
    still in use after a full collection at the window's end."""
    peak = sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark))
    mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    return {"peak": peak / 2**20, "live": mem.getHeapMemoryUsage().getUsed() / 2**20}


def _layer_self_time(tracer: Tracer) -> dict[str, float]:
    return {f"self_s.{k}": v for k, v in sorted(tracer.self_time_s().items())}


# -- api_mixed ---------------------------------------------------------------


def _http(port: int, method: str, path: str, body: bytes | None = None):
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request(method, path, body=body)
        r = conn.getresponse()
        return r.status, r.read()
    finally:
        conn.close()


def run_api(cfg: dict, mods: dict, tracer: Tracer | None) -> tuple[dict, Callable]:
    """Serve ``IngestApiServer(drain=True)``; the load generator is a
    separate process started by the orchestrator once ``ready.json``
    exists, and ``stop.json`` carries its measurement window back."""
    from gen import IDS_ERROR, NOT_FOUND

    run_dir, interval = cfg["run_dir"], cfg["drain_interval"]
    if tracer is not None:
        _wrap_api(tracer, mods)
        _wrap_serving(tracer, mods)

    setups, srv, spark = [], None, None
    for i in range(1 + cfg["warm_setups"]):
        root = os.path.join(run_dir, f"api{i}")
        t0 = time.perf_counter()
        spark = mods["session"].get_spark()
        srv = mods["http_api"].IngestApiServer(
            spark, root, port=0, drain=True, drain_interval=interval
        )
        srv.start_background()
        deadline = time.monotonic() + 120
        while srv.drain_query.lastProgress is None or srv.registration_query.lastProgress is None:
            if time.monotonic() > deadline:
                raise TimeoutError("streams never reported progress")
            time.sleep(0.02)
        # one engine POST and one store read, so the first client op
        # pays no lazy initialisation the setup should have paid
        checks = [
            _http(srv.port, "POST", "/ingest", b'{"priority":"HIGH"}') == (400, IDS_ERROR.encode()),
            _http(srv.port, "GET", "/ingest/status/none") == (404, NOT_FOUND.encode()),
        ]
        setups.append(time.perf_counter() - t0)
        if not all(checks):
            raise RuntimeError("setup probe got a wrong body")
        _log(f"api set-up {i} done")
        if i == 0:
            _prime(srv.port)
            _log("primed")
        if i < cfg["warm_setups"]:
            _stop_spark(spark, srv)
            shutil.rmtree(root, ignore_errors=True)
    if tracer is not None:
        tracer.spans.clear()
    jc = JobCounter(spark)
    _heap_window_start(spark)
    with open(os.path.join(run_dir, ".ready.json"), "w") as fh:
        json.dump({"port": srv.port}, fh)
    os.rename(os.path.join(run_dir, ".ready.json"), os.path.join(run_dir, "ready.json"))

    stop = os.path.join(run_dir, "stop.json")
    _wait_path(stop, cfg["seconds"] + 150)
    with open(stop) as fh:
        window = json.load(fh)
    _log("window over")
    w0, w1 = window["t0"], window["t1"]
    drain = _progress(srv.drain_query, w0, w1)
    reg = _progress(srv.registration_query, w0, w1)
    out = {
        "setup_s": setups[1:] or setups,
        "cold_setup_s": setups[0],
        "rss_mb": tree_peak_rss_mb(),
        "heap_mb": _heap_mb(spark),
        "trigger_ms": [p["durationMs"]["triggerExecution"] for p in drain],
        "reg_trigger_ms": [p["durationMs"]["triggerExecution"] for p in reg],
    }
    if tracer is not None:
        n_ops = window["n_ops"]
        layer = {}
        irl = tracer.durations_ms("pipeline.ingest_response_lines")
        rows = [s[6].get("rows", 0) for s in tracer.spans if s[3] == "pipeline.ingest_response_lines"]
        layer["pipeline.ingest_response_lines.calls"] = float(len(irl))
        layer.update(dist("pipeline.ingest_response_lines", irl))
        layer["pipeline.ingest_response_lines.rows_per_call"] = sum(rows) / max(len(rows), 1)
        layer.update(dist("http_api.post_ingest", tracer.durations_ms("http_api.post_ingest")))
        layer["http_api.batcher_wait.ms_p50"] = _batcher_wait_p50(tracer)
        srs = [s for s in tracer.spans if s[3] == "live.status_response_from_store"]
        layer.update(dist("live.status_response_from_store", [(s[5] - s[4]) * 1000 for s in srs]))
        per_group = jc.jobs_by_group(w0 - 60, time.time())
        layer["live.status_response_from_store.spark_jobs_per_call"] = (
            sum(per_group.get(s[6].get("group"), 0) for s in srs) / max(len(srs), 1)
        )
        layer.update(dist("serving.lookup", tracer.durations_ms("serving.lookup")))
        gs = tracer.durations_ms("http_api.get_status")
        layer["http_api.get_status.ms_p50"] = pct(gs, 50) if gs else 0.0
        layer.update(_upsert_layer(tracer, w0, w1))
        layer.update(_progress_layer("live.drain", drain))
        layer["live.registration.trigger_ms"] = pct(out["reg_trigger_ms"], 50) if reg else 0.0
        layer["live.registration.input_rows"] = float(sum(p.get("numInputRows", 0) for p in reg))
        layer.update(_session_layer(jc, w0, w1, n_ops))
        layer.update(_layer_self_time(tracer))
        out["layer"] = layer
    return out, lambda: _stop_spark(spark, srv, limit_s=10.0)


def _prime(port: int) -> None:
    """Drive one request from POST to ``completed`` on the cold JVM, so
    the first drain micro-batch's one-off JVM start-up (class loading,
    JIT) is paid before any measured run. Not part of ``setup_s``."""
    from gen import completed_doc

    code, body = _http(port, "POST", "/ingest", b'{"ids":[1],"priority":"HIGH"}')
    if code != 202:
        raise RuntimeError(f"priming POST got {code}")
    rid = json.loads(body)["ingestion_id"]
    deadline = time.monotonic() + 120
    while _http(port, "GET", f"/ingest/status/{rid}") != (200, completed_doc(rid, [1]).encode()):
        if time.monotonic() > deadline:
            raise TimeoutError("priming request never completed")
        time.sleep(0.25)


def _wrap_api(tracer: Tracer, mods: dict) -> None:
    """HTTP handler, engine POST and store-read spans. A status read
    runs on the HTTP handler's own thread, so a per-call job group
    isolates the Spark jobs it launches."""
    pipeline, live = mods["pipeline"], mods["live"]
    irl, srs = pipeline.ingest_response_lines, live.status_response_from_store

    def traced_irl(spark, lines):
        def run():
            tracer.current_attrs()["rows"] = len(lines)
            return irl(spark, lines)

        return tracer.call("pipeline.ingest_response_lines", run)

    def traced_srs(spark, table, request_id, pending=None):
        def run():
            sc = spark.sparkContext
            gid = f"perfbench-status-{threading.get_ident()}-{time.perf_counter_ns()}"
            tracer.current_attrs()["group"] = gid
            sc.setJobGroup(gid, "status read", False)
            try:
                return srs(spark, table, request_id, pending=pending)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        return tracer.call("live.status_response_from_store", run)

    pipeline.ingest_response_lines = traced_irl
    live.status_response_from_store = traced_srs
    tracer.wrap(mods["http_api"].IngestApiServer, "post_ingest", "http_api.post_ingest")
    tracer.wrap(mods["http_api"].IngestApiServer, "get_status", "http_api.get_status")


def _batcher_wait_p50(tracer: Tracer) -> float:
    """Per POST: its span minus the engine call that served it (the
    ``ingest_response_lines`` span inside its interval)."""
    eng = [(s[4], s[5]) for s in tracer.spans if s[3] == "pipeline.ingest_response_lines"]
    waits = []
    for s in tracer.spans:
        if s[3] != "http_api.post_ingest":
            continue
        inside = [b - a for a, b in eng if a >= s[4] and b <= s[5]]
        waits.append((s[5] - s[4] - (max(inside) if inside else 0.0)) * 1000)
    return pct(waits, 50) if waits else 0.0


# -- curation_batch --------------------------------------------------------------


def run_curation(cfg: dict, mods: dict, tracer: Tracer | None) -> tuple[dict, Callable]:
    """Write-only ``build_training_corpus`` passes over the seeded
    documents table the orchestrator wrote, until ``seconds`` have
    elapsed (at least one)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gen

    run_dir = cfg["run_dir"]
    data = os.path.dirname(cfg["docs_path"])
    prime = os.path.join(run_dir, "prime")
    os.makedirs(prime, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(gen.documents(cfg["seed"] + 1, cfg["prime_docs"])),
        os.path.join(prime, "documents.parquet"),
    )
    cp = mods["corpus_pipeline"]
    if tracer is not None:
        tracer.wrap(cp, "build_training_corpus", "corpus_pipeline.build_training_corpus")
        tracer.wrap(cp, "write_training_shards", "sinks.write_training_shards")

    setups = []
    for i in range(1 + cfg["warm_setups"]):
        t0 = time.perf_counter()
        spark = mods["session"].get_spark()
        spark.read.parquet(cfg["docs_path"]).count()
        setups.append(time.perf_counter() - t0)
        if i == 0:
            # one small pass on the cold JVM: class loading and JIT are
            # paid here, outside set-up and outside the measured passes
            cp.build_training_corpus(
                spark, prime, os.path.join(prime, "out"), with_report=False
            )
            # the orchestrator builds the gate's expected output in the
            # meantime; nothing is measured while it runs
            _wait_path(os.path.join(run_dir, "oracle.done"), 150)
        if i < cfg["warm_setups"]:
            _stop_spark(spark)
    if tracer is not None:
        tracer.spans.clear()
    jc = JobCounter(spark)

    passes, outs = [], []
    _heap_window_start(spark)
    w0 = time.time()
    t_end = time.monotonic() + cfg["seconds"]
    # at least one pass; no pass that would end past the run length
    while not passes or time.monotonic() + pct(passes, 50) <= t_end:
        out_path = os.path.join(run_dir, "shards", f"pass{len(passes)}")
        t0 = time.perf_counter()
        cp.build_training_corpus(spark, data, out_path, records_per_file=200, with_report=False)
        passes.append(time.perf_counter() - t0)
        outs.append(out_path)
    w1 = time.time()
    out = {
        "setup_s": setups[1:] or setups,
        "cold_setup_s": setups[0],
        "rss_mb": tree_peak_rss_mb(),
        "heap_mb": _heap_mb(spark),
        "pass_s": passes,
        "n_docs": cfg["n_docs"],
        "outputs": outs,
    }
    if tracer is not None:
        layer = _session_layer(jc, w0, w1, len(passes))
        wts = tracer.durations_ms("sinks.write_training_shards")
        layer["sinks.write_training_shards_s"] = pct(wts, 50) / 1000.0
        layer.update(_layer_self_time(tracer))
        layer.update(_curation_stages(spark, mods, data))
        out["layer"] = layer
    return out, lambda: _stop_spark(spark, limit_s=10.0)


def _curation_stages(spark, mods: dict, data: str) -> dict[str, float]:
    """Each funnel stage forced on its own (noop write), plus the
    funnel's survivor ratios from one reporting pass."""
    from data_ingestion_api_system_loop_ai_spark.sources.loader import load_table

    cp = mods["corpus_pipeline"]

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    docs = load_table(spark, data, "documents")
    out = {
        "dedup.q_dedup_exact_s": timed(mods["dedup"].q_dedup_exact(spark, data)),
        "dedup.q_dedup_prefix_s": timed(mods["dedup"].q_dedup_prefix(spark, data)),
        "quality.quality_profile_s": timed(mods["quality"].quality_profile(docs)),
        "contamination.q_decontaminate_s": timed(mods["contamination"].q_decontaminate(spark, data)),
    }
    surv = cp.funnel_stages(spark, data)["after_decontam"].localCheckpoint(eager=True)
    out["corpus_pipeline.layout_stage_s"] = timed(cp.layout_stage(surv))
    rep = cp.build_training_corpus(
        spark, data, os.path.join(data, "..", "shards", "report"), with_report=True
    )
    base = max(rep["input"], 1)
    for k in ("after_exact", "after_near", "after_quality", "after_decontam", "rows_written"):
        out[f"funnel.{k}_ratio"] = rep[k] / base
    return out


WORKLOADS = {"api_mixed": run_api, "curation_batch": run_curation}


def main() -> None:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    mods = _program()
    tracer = Tracer() if cfg["trace"] else None
    result, teardown = WORKLOADS[cfg["workload"]](cfg, mods, tracer)
    if tracer is not None:
        tracer.dump(os.path.join(cfg["run_dir"], "spans.jsonl"))
        result["layer"]["trace.spans"] = float(len(tracer.spans))
        result["layer"]["trace.bookkeeping_ms"] = tracer.book_s * 1000.0
        result["layer"]["jvm.heap_peak_mb"] = result["heap_mb"]["peak"]
        result["layer"]["jvm.heap_live_mb"] = result["heap_mb"]["live"]
    tmp = os.path.join(cfg["run_dir"], ".system.json")
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.rename(tmp, os.path.join(cfg["run_dir"], "system.json"))
    try:
        teardown()
        _log("torn down")
    except TimeoutError as exc:
        # the result is written; the orchestrator kills what is left
        _log(f"teardown: {exc}")


if __name__ == "__main__":
    main()
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)  # a hung py4j callback thread must not keep the process
