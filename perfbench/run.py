"""Wire-level benchmark of the PG server, with a per-layer split.

    python3 perfbench/run.py [--workload NAME|all] [--seed N] [--seconds S] [--trace 0|1]

Run from the root of a checkout. Workloads (README.md has the why of each):

* ``point_oltp``     4 clients, keyed lookups, 80% extended protocol
* ``catalog_churn``  2 clients, psql ``\\dt``/``\\d``/``\\d t`` sessions + CTAS/DROP
* ``bulk_stream``    1 client, wide scans in both modes, COPY OUT, COPY IN
* ``operator_batch`` in-process, the 25 ``bench=True`` registry queries

The wire workloads start the real server (``serve.py``) with
``SPARK_GRAFT_CPUS=$(nproc)`` and drive it from this one process. With
``--trace 1`` the server runs with layer spans installed; the window is
split into untraced / traced / untraced / traced quarters and the
per-layer metrics come from the traced ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or
with ``--trace 1`` its per-layer metrics). The line before it, starting
``# report``, holds the workload's named metrics and the environment.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import random
import shutil
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SF = 0.1
#: operator_batch's scale: sf0.1 is overhead-bound like sf0.01 (ROADMAP), and
#: three of the DuckDB oracles take minutes or spill >20 GB at sf0.1
OPS_SF = 0.01
WIRE = ("point_oltp", "catalog_churn", "bulk_stream")
WORKLOADS = WIRE + ("operator_batch",)
SERVER_BOOT_TIMEOUT_S = 150
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_checkout() -> None:
    for need in ("spark_sql_server_spark/protocol/server.py", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from the root of a checkout")


def load_benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------- #
# inputs


def prepare(threads: int) -> dict:
    """Data, table schemas and registry row counts; cached in the work dir."""
    import pyarrow.parquet as pq

    import datagen
    import oracle

    sf_dir = datagen.ensure_data(os.path.join(WORK, "data"), SF)
    tables = {}
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            tables[name[:-8]] = pq.read_schema(os.path.join(sf_dir, name)).names
    rows = pq.ParquetFile(os.path.join(sf_dir, "lineitem.parquet")).metadata.num_rows
    ops_dir = datagen.ensure_data(os.path.join(WORK, "data"), OPS_SF)
    counts = oracle.registry_counts(WORK, ops_dir, f"sf{OPS_SF}-v{datagen.VERSION}", threads)
    return {"sf_dir": sf_dir, "tables": tables, "lineitem_rows": rows,
            "sizes": datagen.sizes(SF), "ops_dir": ops_dir, "registry_counts": counts}


# ---------------------------------------------------------------------- #
# server


def make_scratch(name: str) -> str:
    """A fresh scratch directory for one Spark process tree."""
    d = os.path.join(WORK, name)
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(d, sub))
    return d


def spark_env(scratch: str) -> dict[str, str]:
    """Environment of a Spark driver the benchmark starts."""
    return {
        # pyspark's Python workers unpickle the catalog UDFs by module path
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "TMPDIR": os.path.join(scratch, "tmp"),
    }


def discard(path: str) -> None:
    """Move a run's scratch directory aside; the next run deletes it.

    Deleting it right after the JVM dies blocks for 10-20 s (unlinking
    files whose pages are still being written back), which would only
    lengthen every run."""
    trash = os.path.join(WORK, "trash")
    os.makedirs(trash, exist_ok=True)
    os.replace(path, os.path.join(trash, f"{os.path.basename(path)}-{time.time_ns()}"))


class Server:
    """One server process tree in its own scratch directory."""

    def __init__(self, sf_dir: str, trace: bool):
        self.dir = make_scratch(f"server-{os.getpid()}")
        self.trace_file = os.path.join(self.dir, "trace.json") if trace else None
        self.tracing = trace  # the traced server records from boot on
        env = dict(os.environ, **spark_env(self.dir))
        cmd = [sys.executable, os.path.join(HERE, "serve.py"), "--root", ROOT,
               "--sf-dir", sf_dir, "--work", self.dir]
        if trace:
            cmd += ["--trace", self.trace_file]
        self.log = open(os.path.join(self.dir, "server.log"), "wb")
        self.t_spawn = time.monotonic_ns()
        self.proc = subprocess.Popen(cmd, cwd=self.dir, env=env, stdout=self.log,
                                     stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)

    def _wait_file(self, path: str, timeout_s: float, pred=None):
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}: {self.tail()}")
            if os.path.exists(path):
                with open(path) as f:
                    data = f.read()
                if pred is None or pred(data):
                    return data
            time.sleep(0.05)
        raise RuntimeError(f"timed out waiting for {os.path.basename(path)}")

    def port(self) -> int:
        return int(self._wait_file(os.path.join(self.dir, "port"), SERVER_BOOT_TIMEOUT_S))

    def set_tracing(self, on: bool) -> None:
        """SIGUSR2 flips span recording; wait for the server's acknowledgement."""
        import signal

        if on == self.tracing:
            return
        self.tracing = on
        state = os.path.join(self.dir, "trace_state")
        if os.path.exists(state):
            os.remove(state)
        self.proc.send_signal(signal.SIGUSR2)
        self._wait_file(state, 30, lambda d: json.loads(d)["enabled"] == on)

    def dump_trace(self) -> dict:
        import signal

        self.proc.send_signal(signal.SIGUSR1)
        return json.loads(self._wait_file(self.trace_file, 60))

    def tail(self) -> str:
        self.log.flush()
        with open(os.path.join(self.dir, "server.log"), "rb") as f:
            return f.read()[-2000:].decode(errors="replace")

    def stop(self) -> None:
        from proctree import kill_tree

        kill_tree(self.proc)
        self.log.close()
        discard(self.dir)


# ---------------------------------------------------------------------- #
# workloads


def phases_for(seconds: float, trace: bool):
    """Untraced run: one window. Traced run: A/B/A/B quarters (A untraced)."""
    if not trace:
        return [("A", seconds)]
    return [("A", seconds / 4), ("B", seconds / 4), ("A", seconds / 4), ("B", seconds / 4)]


def run_wire(name: str, inputs: dict, seed: int, seconds: float, trace: bool) -> dict:
    import wire
    from pgwire import Connection, now_ns
    from proctree import RssSampler

    threads = nproc()
    if name == "point_oltp":
        plan = wire.plan_point(seed, inputs["sf_dir"], inputs["sizes"], threads)
        drive = wire.drive_point
    elif name == "catalog_churn":
        plan = wire.plan_churn(seed, inputs["tables"], inputs["sizes"])
        drive = wire.drive_churn
    else:
        plan = wire.plan_bulk(seed, inputs["sizes"], inputs["lineitem_rows"])
        drive = wire.drive_bulk
    phases = phases_for(seconds, trace)
    # bulk_stream measures whole cycles: one untraced and one traced
    if trace and name == "bulk_stream":
        phases = [("A", 0.0), ("B", 0.0)]
    rec = wire.Recorder()
    server = Server(inputs["sf_dir"], trace)
    dump = None
    try:
        with RssSampler(server.proc.pid) as rss:
            port = server.port()

            async def main():
                conn, _ = await Connection.open(wire.HOST, port)
                r = await conn.query("SELECT 1")
                setup_s = (now_ns() - server.t_spawn) / 1e9
                rec.check(r.error is None and r.rows == [("1",)], f"SELECT 1 {r.error}")
                await conn.close()

                async def between(label):
                    if trace:
                        await asyncio.to_thread(server.set_tracing, label == "B")

                await drive(plan, port, phases, between, rec)
                return setup_s

            setup_s = asyncio.run(main())
            if trace:
                dump = server.dump_trace()
    finally:
        t_stop = time.monotonic_ns()
        server.stop()
        rec.add("stop_s", (time.monotonic_ns() - t_stop) / 1e9)
    return {"rec": rec, "setup_s": setup_s, "rss": rss, "dump": dump}


def stop_gateway() -> None:
    """End this process's JVM (and its pyspark workers) and wait for it."""
    from pyspark import SparkContext

    from proctree import kill_tree

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        kill_tree(gateway.proc)


def run_operators(inputs: dict, seed: int, seconds: float, trace: bool) -> dict:
    """The registry's bench queries in this process, on ``local[nproc]``."""
    import wire
    from proctree import RssSampler
    from spans import Tracer, install_spark

    d = make_scratch(f"inproc-{os.getpid()}")
    os.environ.update(spark_env(d))
    from serve import scratch_conf
    from spark_sql_server_spark.operators import REGISTRY
    from spark_sql_server_spark.session import build_session

    counts = inputs["registry_counts"]
    names = sorted(n for n, s in REGISTRY.items() if s.bench)
    random.Random(seed).shuffle(names)
    sf_dir = inputs["ops_dir"]
    rec = wire.Recorder()
    tracer = Tracer(enabled=False)
    if trace:
        install_spark(tracer)
    group = "perfbench-operators"
    job_base: set = set()
    spark = None
    cwd = os.getcwd()
    os.chdir(d)  # derby.log and friends land here
    try:
        with RssSampler(os.getpid()) as rss:
            t0 = time.monotonic_ns()
            spark = build_session("perfbench-operators", extra_conf=scratch_conf(d))
            sc = spark.sparkContext
            sc.setJobGroup(group, "perfbench operator_batch")

            def one_pass(phase):
                for n in names:
                    with tracer.span(f"operators:{n}", stmt=(0, len(rec.stmts) + 1)):
                        a = time.monotonic_ns()
                        got = REGISTRY[n].fn(spark, sf_dir).count()
                        b = time.monotonic_ns()
                    rec.check(got == counts[n], f"{n}: {got} rows, oracle {counts[n]}")
                    if phase:
                        rec.stmts.append(wire.Stmt(n, phase, 0, len(rec.stmts) + 1, a, b))

            one_pass("")  # warm-up pass: JIT, Python workers, file caches
            setup_s = (time.monotonic_ns() - t0) / 1e9
            if trace:
                for label in ("A", "B"):
                    if label == "B":
                        job_base = set(sc.statusTracker().getJobIdsForGroup(group))
                        tracer.enabled = True
                    one_pass(label)
                    tracer.enabled = False
            else:
                t_end = time.monotonic_ns() + int(seconds * 1e9)
                while True:  # as many whole passes as fit, at least one
                    a = time.monotonic_ns()
                    one_pass("A")
                    b = time.monotonic_ns()
                    rec.add("pass_s", (b - a) / 1e9)
                    rec.add("pass_window", (a, b))
                    if b + (b - a) > t_end:
                        break
            jobs = []
            if trace:
                st = sc.statusTracker()
                for j in set(st.getJobIdsForGroup(group)) - job_base:
                    info = st.getJobInfo(j)
                    stages = list(info.stageIds) if info is not None else []
                    tasks = sum((st.getStageInfo(s).numTasks if st.getStageInfo(s) else 0)
                                for s in stages)
                    jobs.append([j, len(stages), tasks])
    finally:
        if spark is not None:
            spark.stop()
            stop_gateway()
        os.chdir(cwd)
        discard(d)
    dump = None
    if trace:
        dump = {"spans": tracer.spans, "counters": dict(tracer.counters),
                "conn_pid": {}, "jobs": {"0": jobs}}
    return {"rec": rec, "setup_s": setup_s, "rss": rss, "dump": dump}


# ---------------------------------------------------------------------- #
# metrics


def end_to_end(name: str, out: dict) -> tuple[dict, dict]:
    """(the BENCHMARK.json end-to-end metrics, the workload's named metrics)."""
    from stats import median, tail

    rec = out["rec"]
    windows = [(t0, t1) for _label, t0, t1 in rec.samples.get("window", [])]
    window = sum(t1 - t0 for t0, t1 in windows) / 1e9
    named: dict[str, float] = {}
    if name == "point_oltp":
        lat = [s.ms for s in rec.stmts]
        named.update({"tps": len(lat) / window})
        unit_lat, rate = lat, len(lat) / window
    elif name == "catalog_churn":
        # a session's first statement also waits for its deferred init,
        # which first_result_ms reports; the rest are plain catalog queries
        lat = [s.ms for s in rec.stmts if s.kind not in ("dt", "ddl")]
        sess = rec.samples.get("session_ms", [])
        named.update({
            "session_p50_ms": median(sess),
            "session_p90_ms": tail(sess)[0],
            "first_result_ms": median(rec.samples["first_result_ms"]),
            "catalog_stmt_p50_ms": median(lat),
            "sessions": len(sess),
        })
        rate = sum(1 for s in rec.stmts if s.kind != "ddl") / window
        unit_lat = lat
    elif name == "bulk_stream":
        by = defaultdict(list)
        for s in rec.stmts:
            by[s.kind].append(s)
        rows = lambda ss: sum(x.resp.nrows for x in ss)  # noqa: E731
        secs = lambda ss: sum(x.ms for x in ss) / 1e3  # noqa: E731
        inc, arrow, cout = by["scan.incremental"], by["scan.arrow"], by["copy_out"]
        cin = rec.samples["copy_in"]
        named.update({
            "scan_rows_per_s.incremental": rows(inc) / secs(inc),
            "scan_rows_per_s.arrow": rows(arrow) / secs(arrow),
            "first_row_ms.incremental": median(
                [(x.resp.t_first_row - x.t_sent) / 1e6 for x in inc]),
            "copy_out_mb_per_s": sum(x.resp.copy_out_bytes for x in cout) / 1e6 / secs(cout),
            "copy_in_mb_per_s": sum(c[3] for c in cin) / 1e6 / (secs(by["copy_in"])),
        })
        moved = rows(inc) + rows(arrow) + rows(by["range"]) + rows(cout)
        moved += len(cin) * 100_000
        unit_lat = [s.ms for s in rec.stmts]
        rate = moved / (sum(s.ms for s in rec.stmts) / 1e3)
    else:
        # the unit is the pass: the 25 queries differ too much in cost for
        # a median over them to mean anything
        passes_ms = [x * 1e3 for x in rec.samples["pass_s"]]
        named.update({"suite_s": median(rec.samples["pass_s"]),
                      "query_p50_ms": median(s.ms for s in rec.stmts)})
        unit_lat, rate = passes_ms, len(rec.stmts) / sum(rec.samples["pass_s"])
        windows = [(t0, t1) for t0, t1 in rec.samples["pass_window"]]
    if name == "point_oltp":
        named.update({"stmt_p50_ms": median(unit_lat), "stmt_p99_ms": tail(unit_lat)[0],
                      "first_result_ms": median(rec.samples["first_result_ms"])})
    t, pct = tail(unit_lat)
    rss_mb = out["rss"].median_mb(windows)
    named.update({"setup_s": out["setup_s"], "server_rss_mb": rss_mb,
                  "server_rss_peak_mb": out["rss"].peak_mb,
                  "failed_frac": len(rec.failures) / max(rec.attempted, 1),
                  "samples": len(unit_lat), "tail_percentile": pct})
    metrics = {
        "setup_s": out["setup_s"],
        "stmt_p50_ms": median(unit_lat),
        "stmt_tail_ms": t,
        "throughput_per_s": rate,
    }
    return metrics, named


def run_workload(name, inputs, seed, seconds, trace) -> dict:
    if name == "operator_batch":
        return run_operators(inputs, seed, seconds, trace)
    return run_wire(name, inputs, seed, seconds, trace)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    check_checkout()
    sys.path[:0] = [HERE, ROOT]
    bench = load_benchmark_json()
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    names = WORKLOADS if args.workload == "all" else (args.workload,)

    from bench import _cpu_gauge_sec

    import layers
    from stats import environment

    t0 = time.monotonic()
    shutil.rmtree(os.path.join(WORK, "trash"), ignore_errors=True)
    cleanup_s = time.monotonic() - t0
    env_before = environment(_cpu_gauge_sec)
    t0 = time.monotonic()
    inputs = prepare(nproc())
    prepare_s = time.monotonic() - t0
    attempted = failed = 0
    metrics: dict[str, dict] = {}
    report: dict[str, dict] = {}
    for name in names:
        out = run_workload(name, inputs, args.seed, seconds, bool(args.trace))
        rec = out["rec"]
        attempted += rec.attempted
        failed += len(rec.failures)
        for f in rec.failures[:20]:
            print(f"# FAILED [{name}] {f}", file=sys.stderr)
        if args.trace:
            m = layers.per_layer(name, out, bench["per_layer"])
            named = {}
        else:
            m, named = end_to_end(name, out)
        report[name] = {"attempted": rec.attempted, "failed": len(rec.failures), **named,
                        "stop_s": sum(rec.samples.get("stop_s", [0.0]))}
        metrics[name] = m
    env_after = environment(_cpu_gauge_sec)
    report["environment"] = {"before": env_before, "after": env_after,
                             "sf": SF, "operator_sf": OPS_SF, "seed": args.seed, "seconds": seconds,
                             "prepare_s": prepare_s, "cleanup_s": cleanup_s}
    _print_table(report)
    print("# report " + json.dumps(report, sort_keys=True))
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    if len(names) == 1:
        flat = {k: (v, units[k]) for k, v in metrics[names[0]].items()}
    else:  # all workloads: prefix each metric with its workload
        flat = {f"{w}.{k}": (v, units[k]) for w, m in metrics.items() for k, v in m.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in flat.items()},
    }))


def _print_table(report: dict) -> None:
    for name, r in report.items():
        if name == "environment":
            continue
        print(f"# {name}: attempted={r['attempted']} failed={r['failed']}", file=sys.stderr)
        for k, v in r.items():
            if k not in ("attempted", "failed"):
                print(f"#   {k:32s} {v:.4f}" if isinstance(v, float) else f"#   {k:32s} {v}",
                      file=sys.stderr)


if __name__ == "__main__":
    main()
