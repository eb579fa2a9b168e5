"""Start the package's PG server for a benchmark run.

    python3 perfbench/serve.py --root R --sf-dir D --work W [--trace FILE]

The server is built exactly as ``python -m spark_sql_server_spark`` builds
it, except that the warehouse, Spark local dirs and Derby home live in ``W``
(the process's cwd) instead of ``/tmp``, and the Derby metastore is an
in-memory one: on-disk Derby's synced files take ~70 ms each to unlink on
the 4-core test box, 10-20 s per run. The listening port is written to
``W/port`` once the server accepts connections. It serves until killed.

With ``--trace FILE`` the layer wrappers of ``spans.py`` are installed
before the server starts, so catalog boot is traced. Signals then drive
the run: SIGUSR2 switches span recording off or on (acknowledged by
writing ``W/trace_state``); SIGUSR1 writes the spans, counters and the
Spark job/stage/task counts of every session's job group to FILE.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import signal
import sys


def _job_counts(spark, pids) -> dict[str, list[int]]:
    """{pid: [job ids]} plus stage/task totals per job, from statusTracker."""
    st = spark.sparkContext.statusTracker()
    out = {}
    for pid in pids:
        jobs = []
        for j in st.getJobIdsForGroup(f"pg-session-{pid}"):
            info = st.getJobInfo(j)
            stages = list(info.stageIds) if info is not None else []
            tasks = 0
            for s in stages:
                si = st.getStageInfo(s)
                tasks += si.numTasks if si is not None else 0
            jobs.append([int(j), len(stages), tasks])
        out[str(pid)] = jobs
    return out


def scratch_conf(work: str) -> dict[str, str]:
    """Spark confs that keep a session's files inside ``work``."""
    return {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.hadoop.javax.jdo.option.ConnectionURL": "jdbc:derby:memory:metastore;create=true",
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={work} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.local.dir": f"{work}/local",
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--trace", default=None)
    args = p.parse_args()
    sys.path.insert(0, args.root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from spark_sql_server_spark import session as session_mod
    from spark_sql_server_spark.protocol.server import SparkPGServer

    work = os.path.abspath(args.work)
    conf = scratch_conf(work)
    if args.trace:
        # keep every job of the run for the per-statement job counts
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    spark = session_mod.build_session("spark-pg-server", extra_conf=conf)

    sf_dir = args.sf_dir
    server = SparkPGServer(
        spark,
        host="127.0.0.1",
        port=0,
        # resolved per call, so the traced wrapper is the one that runs
        init_session=lambda s: session_mod.register_tables(s, sf_dir),
    )
    tracer = None
    if args.trace:
        import spans as perf_trace

        tracer = perf_trace.Tracer(enabled=True)
        perf_trace.install_server(tracer, server)

    def write_json(path: str, obj) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)

    baseline: dict[str, set] = {}
    booted = [False]

    def toggle() -> None:
        if not booted[0]:  # the first switch ends the boot period: keep its
            booted[0] = True  # spans (catalog boot), not its counters
            tracer.counters.clear()
        tracer.enabled = not tracer.enabled
        if tracer.enabled:
            for pid, jobs in _job_counts(spark, tracer.conn_pid.values()).items():
                baseline[pid] = {j[0] for j in jobs}
        write_json(os.path.join(work, "trace_state"), {"enabled": tracer.enabled})

    def dump() -> None:
        tracer.enabled = False
        jobs = _job_counts(spark, tracer.conn_pid.values())
        jobs = {pid: [j for j in js if j[0] not in baseline.get(pid, ())]
                for pid, js in jobs.items()}
        write_json(args.trace, {
            "spans": tracer.spans,
            "counters": dict(tracer.counters),
            "conn_pid": tracer.conn_pid,
            "jobs": jobs,
        })

    async def run() -> None:
        await server.start()
        loop = asyncio.get_running_loop()
        if tracer is not None:
            loop.add_signal_handler(signal.SIGUSR2, toggle)
            loop.add_signal_handler(signal.SIGUSR1, lambda: loop.run_in_executor(None, dump))
        with open(os.path.join(work, "port.tmp"), "w") as f:
            f.write(str(server.port))
        os.replace(os.path.join(work, "port.tmp"), os.path.join(work, "port"))
        await asyncio.Event().wait()  # until the benchmark kills the tree

    asyncio.run(run())


if __name__ == "__main__":
    main()
