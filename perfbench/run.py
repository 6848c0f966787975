"""Benchmark entry point: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload api_mixed --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 2 --trace 1 --smoke

Run from the root of a checkout. The program runs in a child process
(``system.py``) and, for api_mixed, is driven by a second child
(``loadgen.py``); this process only starts, stops and checks them. It
prints one line per metric, then, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exit status: 0 when every correctness gate passed, 1 when one failed,
2 when the run could not be made (nothing is printed on stdout then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from common import ROOT, machine_info, pct, spark_env, tail_q

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(ROOT, ".perfbench-runs")
BENCH = os.path.join(ROOT, "BENCHMARK.json")

# Run sizes. ``smoke`` is the harness's own fast mode: tiny inputs, a
# second of measurement, every gate still applied.
SIZES = {
    "api_mixed": {
        "full": {"clients": 2, "polls": 3, "think_s": 0.25, "warm_setups": 2},
        "smoke": {"clients": 2, "polls": 1, "think_s": 0.25, "warm_setups": 1},
    },
    "curation_batch": {
        "full": {"n_docs": 20000, "prime_docs": 200, "warm_setups": 2},
        "smoke": {"n_docs": 200, "prime_docs": 50, "warm_setups": 1},
    },
}
COMMON = {
    "drain_interval": "0.25 seconds",  # below every measured micro-batch
    "op_timeout_s": 60,
}
CHILD_DEADLINE_S = 150


class RunError(RuntimeError):
    pass


# -- child processes ---------------------------------------------------------


def _spawn(args: list[str], env: dict, log: str) -> subprocess.Popen:
    fh = open(log, "ab")
    try:
        return subprocess.Popen(
            [sys.executable, *args], env=env, cwd=os.path.dirname(log),
            stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True,
        )
    finally:
        fh.close()


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(proc: subprocess.Popen) -> None:
    """Stop the child's whole process group (its JVM and Python
    workers included) and wait until every member has ended."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        end = time.monotonic() + grace
        while time.monotonic() < end:
            proc.poll()
            if not _group_alive(proc.pid):
                return
            time.sleep(0.05)
    raise RunError(f"process group {proc.pid} did not exit")


def _wait(proc: subprocess.Popen, deadline: float, what: str) -> None:
    while proc.poll() is None:
        if time.monotonic() > deadline:
            raise RunError(f"{what} missed its deadline")
        time.sleep(0.05)
    if proc.returncode != 0:
        raise RunError(f"{what} exited with status {proc.returncode}")


def _wait_file(path: str, proc: subprocess.Popen, deadline: float) -> None:
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RunError(f"system process exited with status {proc.returncode}")
        if time.monotonic() > deadline:
            raise RunError(f"{os.path.basename(path)} never appeared")
        time.sleep(0.05)


def _load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def execute(cfg: dict) -> tuple[dict, dict | None]:
    """Run the system (and load generator) for one workload; returns the
    system's and the load generator's raw results."""
    run_dir = cfg["run_dir"]
    env = spark_env(run_dir)
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    procs: list[subprocess.Popen] = []
    start = time.monotonic()
    try:
        system = _spawn([os.path.join(HERE, "system.py"), cfg_path], env, os.path.join(run_dir, "system.log"))
        procs.append(system)
        load = None
        if cfg["workload"] == "api_mixed":
            _wait_file(os.path.join(run_dir, "ready.json"), system, start + CHILD_DEADLINE_S)
            port = _load(os.path.join(run_dir, "ready.json"))["port"]
            out = os.path.join(run_dir, "loadgen.json")
            gen = _spawn(
                [os.path.join(HERE, "loadgen.py"), cfg_path, str(port), out],
                env, os.path.join(run_dir, "loadgen.log"),
            )
            procs.append(gen)
            _wait(gen, start + CHILD_DEADLINE_S, "load generator")
            load = _load(out)
            with open(os.path.join(run_dir, ".stop.json"), "w") as fh:
                n_ops = sum(len(c["ops"]) for c in load["clients"])
                json.dump({"t0": load["t0"], "t1": load["t1"], "n_ops": n_ops}, fh)
            os.rename(os.path.join(run_dir, ".stop.json"), os.path.join(run_dir, "stop.json"))
        _wait(system, start + CHILD_DEADLINE_S, "system process")
        return _load(os.path.join(run_dir, "system.json")), load
    finally:
        for p in procs:
            _reap(p)


# -- metrics -------------------------------------------------------------------


def _dist(xs: list[float]) -> tuple[float, float, float, int]:
    """(p50, tail, tail percentile, n)."""
    q = tail_q(len(xs))
    return pct(xs, 50), pct(xs, q), q, len(xs)


def api_metrics(sysr: dict, load: dict) -> tuple[dict, dict, int, int, list[str]]:
    clients = load["clients"]
    ops = [op for c in clients for op in c["ops"]]
    bad = [op for op in ops if not op[3]]
    lat = [(op[2] - op[1]) * 1000 for op in ops]
    posts = [(op[2] - op[1]) * 1000 for op in ops if op[0] == "post"]
    gets = [(op[2] - op[1]) * 1000 for op in ops if op[0] == "get"]
    # each client's correct ops over its own span, from the common start
    # to the end of its last op: a client's last op overruns the run
    # length by up to one op latency, which a shared window would count
    # as idle time
    e2e = {
        "work_per_s": sum(
            sum(1 for op in c["ops"] if op[3]) / (max(op[2] for op in c["ops"]) - load["t0"])
            for c in clients
            if c["ops"]
        )
    }
    m, t, q, n = _dist(lat)
    detail = {
        "api_ops_per_s": (e2e["work_per_s"], "ops/s", len(ops)),
        "op_p50_ms": (m, "ms", n),
        f"op_p{q:g}_ms": (t, "ms", n),
        "op_mean_ms": (sum(lat) / len(lat), "ms", n),
    }
    for name, xs, unit in (
        ("post", posts, "ms"),
        ("status", gets, "ms"),
        ("complete", [x for c in clients for x in c["completions"]], "s"),
        ("trigger", sysr["trigger_ms"], "ms"),
    ):
        if xs:
            m, t, q, n = _dist(xs)
            detail[f"{name}_p50_{unit}"] = (m, unit, n)
            detail[f"{name}_p{q:g}_{unit}"] = (t, unit, n)
    detail["abandoned_polls"] = (sum(c["abandoned"] for c in clients), "count")
    why = [f"{op[0]} failed: {op[4]}" for op in bad[:5]]
    return e2e, detail, len(ops), len(bad), why


def curation_metrics(sysr: dict, oracle: tuple) -> tuple[dict, dict, int, int, list[str]]:
    passes = sysr["pass_s"]
    thread, box = oracle
    thread.join()
    if "error" in box:
        raise RunError(f"oracle failed: {box['error']!r}")
    why = curation_gate(box["con"], sysr["outputs"])
    wall = pct(passes, 50)
    e2e = {"work_per_s": sysr["n_docs"] / wall}
    detail = {
        "curation_wall_s": (wall, "s", len(passes)),
        "docs": (sysr["n_docs"], "count"),
    }
    n = len(sysr["outputs"])
    return e2e, detail, n, min(len(why), n), why


def curation_oracle(docs_path: str):
    """A DuckDB connection holding ``want``: ``CORPUS_FUNNEL_ORACLE``
    run over the documents table, plus each document's text."""
    import duckdb

    sys.path.insert(0, ROOT)
    from data_ingestion_api_system_loop_ai_spark.operators.corpus_pipeline import (
        CORPUS_FUNNEL_ORACLE,
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    con.execute(
        "CREATE TABLE want AS SELECT o.*, d.text FROM ("
        + CORPUS_FUNNEL_ORACLE
        + ") o JOIN documents d USING (doc_id)"
    )
    return con


def oracle_in_background(cfg: dict) -> tuple[threading.Thread, dict]:
    """Build the oracle on a thread while the system process starts and
    primes its cold JVM. The system waits for ``oracle.done`` before
    its measured part, so the oracle never competes with it for cores."""
    box: dict = {}

    def work():
        try:
            box["con"] = curation_oracle(cfg["docs_path"])
        except Exception as exc:  # re-raised by curation_metrics
            box["error"] = exc
        finally:
            open(os.path.join(cfg["run_dir"], "oracle.done"), "w").close()

    thread = threading.Thread(target=work, daemon=True)
    thread.start()
    return thread, box


def curation_gate(con, outputs: list[str]) -> list[str]:
    """Every pass's shards must equal the oracle's rows (value
    multiset, text too)."""
    try:
        cols = [r[0] for r in con.execute("DESCRIBE want").fetchall()]
        sel = ", ".join(cols)
        problems = []
        for path in outputs:
            con.execute(
                f"CREATE OR REPLACE TABLE got AS SELECT {sel} FROM read_parquet('{path}/*.parquet')"
            )
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM want EXCEPT ALL SELECT {sel} FROM got)),"
                f" (SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want)),"
                " (SELECT count(*) FROM got)"
            ).fetchone()
            if diff[0] or diff[1] or not diff[2]:
                problems.append(
                    f"{os.path.basename(path)}: {diff[0]} oracle rows missing, {diff[1]} extra, {diff[2]} written"
                )
        return problems
    finally:
        con.close()


# -- entry point --------------------------------------------------------------


def write_documents(run_dir: str, seed: int, n_docs: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gen import documents

    path = os.path.join(run_dir, "data", "documents.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.Table.from_pylist(documents(seed, n_docs)), path)
    return path


def _tidy(run_dir: str, keep_logs: bool) -> None:
    """Remove the run's inputs, stores and Spark scratch; keep the top
    level (logs, raw results, spans) of a traced or failed run."""
    if not keep_logs:
        shutil.rmtree(run_dir, ignore_errors=True)
        return
    for entry in os.scandir(run_dir):
        if entry.is_dir(follow_symlinks=False):
            shutil.rmtree(entry.path, ignore_errors=True)


def bench_spec() -> dict:
    with open(BENCH) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the harness's own tests")
    ap.add_argument("--save", help="also write the full result as JSON to this path")
    args = ap.parse_args(argv)

    spec = bench_spec()
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_dir": run_dir, "smoke": args.smoke,
        **COMMON, **SIZES[args.workload]["smoke" if args.smoke else "full"],
    }
    if args.smoke:
        cfg["seconds"] = min(cfg["seconds"], 2.0)
    try:
        if args.workload == "curation_batch":
            cfg["docs_path"] = write_documents(run_dir, args.seed, cfg["n_docs"])
            oracle = oracle_in_background(cfg)
        sysr, load = execute(cfg)
        if args.workload == "api_mixed":
            e2e, detail, attempted, failed, why = api_metrics(sysr, load)
        else:
            e2e, detail, attempted, failed, why = curation_metrics(sysr, oracle)
    except (RunError, OSError, KeyError, IndexError, ValueError, ZeroDivisionError) as exc:
        print(f"perfbench: run failed: {exc!r}; logs in {run_dir}", file=sys.stderr)
        _tidy(run_dir, keep_logs=True)
        return 2
    e2e["setup_s"] = pct(sysr["setup_s"], 50)
    e2e["peak_rss_mb"] = sum(sysr["rss_mb"].values())
    for name, mb in sysr["rss_mb"].items():
        detail[f"peak_rss_{name}_mb"] = (mb, "MB")
    detail["heap_peak_mb"] = (sysr["heap_mb"]["peak"], "MB")
    detail["heap_live_mb"] = (sysr["heap_mb"]["live"], "MB")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        layer = sysr.get("layer", {})
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    correct = not why and failed == 0

    info = {**machine_info(), "seed": args.seed, "seconds": args.seconds,
            "drain_interval": cfg["drain_interval"], "trace": args.trace, "smoke": args.smoke}
    print(f"# perfbench {args.workload} " + " ".join(f"{k}={v}" for k, v in info.items()))
    for k, v in sorted(e2e.items()):
        print(f"e2e    {k:<26} {v:14.4f} {units.get(k, '')}")
    print(f"e2e    {'error_rate':<26} {failed / max(attempted, 1):14.6f} failed/attempted ({failed}/{attempted})")
    print(f"e2e    {'cold_setup_s':<26} {sysr['cold_setup_s']:14.4f} s (JVM launch included; not in setup_s)")
    for k, v in sorted(detail.items()):
        extra = f" n={v[2]}" if len(v) > 2 else ""
        print(f"detail {k:<26} {v[0]:14.4f} {v[1]}{extra}")
    if args.trace:
        for k, v in sorted(sysr.get("layer", {}).items()):
            print(f"layer  {k:<50} {v:14.4f}")
        print(f"trace  spans_file={os.path.join(run_dir, 'spans.jsonl')}")
    for w in why:
        print(f"GATE FAILED: {w}")
    result = {"correct": correct, "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
    if args.save:
        with open(args.save, "w") as fh:
            json.dump({"workload": args.workload, "info": info, "result": result,
                       "e2e": e2e, "detail": detail, "layer": sysr.get("layer", {})}, fh)
    _tidy(run_dir, keep_logs=bool(args.trace))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
