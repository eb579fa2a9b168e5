"""Spans around the package's layer entry points, recorded from outside.

Nothing in the package is edited: :func:`install_server` and
:func:`install_spark` replace module and class attributes at run time with
wrappers that record a span per call. A span is
``(id, name, start_ns, end_ns, parent_id, stmt)``; ``name`` is
``"<layer>:<call>"`` and ``stmt`` is ``(connection, n)``, where ``n`` counts
the connection's Query / Sync-terminated message groups from 1 and 0 stands
for the handshake and the deferred session init. The client numbers its
statements the same way, so client and server timings join per statement.

:func:`self_times` turns spans into self time per layer: a span's duration
minus the part of its interval that its children cover.
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import threading
import time
from collections import defaultdict

_span: contextvars.ContextVar = contextvars.ContextVar("perfbench_span", default=None)
_stmt: contextvars.ContextVar = contextvars.ContextVar("perfbench_stmt", default=None)
_conn: contextvars.ContextVar = contextvars.ContextVar("perfbench_conn", default=None)


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.conn_pid: dict[int, int] = {}
        self._ids = itertools.count(1)
        self._conns = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += value

    def span(self, name: str, stmt=None):
        """Context manager recording one span (for the benchmark's own calls)."""
        return _SpanCM(self, name, stmt)

    def wrap(self, name: str, fn, on_result=None):
        """Wrap a sync callable; ``on_result(tracer, args, result)`` may count."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            sid = next(self._ids)
            parent = _span.get()
            token = _span.set(sid)
            t0 = time.monotonic_ns()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.monotonic_ns()
                _span.reset(token)
                self.spans.append((sid, name, t0, t1, parent, _stmt.get()))
            if on_result is not None:
                on_result(self, args, out)
            return out

        return traced

    def wrap_async(self, name: str, fn):
        @functools.wraps(fn)
        async def traced(*args, **kwargs):
            if not self.enabled:
                return await fn(*args, **kwargs)
            sid = next(self._ids)
            parent = _span.get()
            token = _span.set(sid)
            t0 = time.monotonic_ns()
            try:
                return await fn(*args, **kwargs)
            finally:
                t1 = time.monotonic_ns()
                _span.reset(token)
                self.spans.append((sid, name, t0, t1, parent, _stmt.get()))

        return traced


class _SpanCM:
    def __init__(self, tracer: Tracer, name: str, stmt):
        self.tracer, self.name, self.stmt = tracer, name, stmt

    def __enter__(self):
        self.on = self.tracer.enabled
        if self.on:
            self.sid = next(self.tracer._ids)
            self.parent = _span.get()
            self.token = _span.set(self.sid)
            self.stmt_token = _stmt.set(self.stmt) if self.stmt is not None else None
            self.t0 = time.monotonic_ns()
        return self

    def __exit__(self, *exc):
        if self.on:
            t1 = time.monotonic_ns()
            _span.reset(self.token)
            stmt = _stmt.get()
            if self.stmt_token is not None:
                _stmt.reset(self.stmt_token)
            self.tracer.spans.append((self.sid, self.name, self.t0, t1, self.parent, stmt))
        return False


class _InitWait:
    """Stands in for a session's deferred-init task so that the first
    statement's wait for it is a span of that statement."""

    def __init__(self, tracer: Tracer, task):
        self._tracer = tracer
        self._task = task

    def done(self) -> bool:
        return self._task.done()

    def __await__(self):
        with self._tracer.span("session:init_wait"):
            return (yield from self._task.__await__())


class _ChunkedIterator:
    """Pulls ``chunk`` rows per span from a row iterator (the server's own
    fetch batch), so a 600k-row fetch is ~150 spans, not 600k."""

    def __init__(self, tracer: Tracer, it, chunk: int):
        self._tracer, self._it, self._chunk = tracer, it, chunk
        self._buf: list = []
        self._pos = 0

    def __iter__(self):
        return self

    def __next__(self):
        if self._pos >= len(self._buf):
            with self._tracer.span("spark.execute:fetch"):
                self._buf = list(itertools.islice(self._it, self._chunk))
            self._pos = 0
            if not self._buf:
                raise StopIteration
        row = self._buf[self._pos]
        self._pos += 1
        return row


def _count_encoded(kind: str):
    def on_result(tracer: Tracer, args, out) -> None:
        if kind == "arrow":
            rows, blob = out
        else:
            rows, blob = len(args[1]), out
        tracer.add("encode.rows", rows)
        tracer.add("encode.bytes", len(blob or b""))

    return on_result


def install_spark(tracer: Tracer, fetch_chunk: int = 4096) -> None:
    """Spark analysis and execute/fetch spans (also used in-process)."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.session import SparkSession

    SparkSession.sql = tracer.wrap("spark.analyze:sql", SparkSession.sql)
    for name in ("toArrow", "collect", "count"):
        setattr(DataFrame, name, tracer.wrap(f"spark.execute:{name}", getattr(DataFrame, name)))
    DataFrameWriter.insertInto = tracer.wrap("spark.execute:insertInto", DataFrameWriter.insertInto)
    to_local = DataFrame.toLocalIterator

    @functools.wraps(to_local)
    def traced_to_local(self, *args, **kwargs):
        it = to_local(self, *args, **kwargs)
        return _ChunkedIterator(tracer, it, fetch_chunk) if tracer.enabled else it

    DataFrame.toLocalIterator = traced_to_local


def install_server(tracer: Tracer, server) -> None:
    """Wrap the protocol, dialect, session, catalog and encoder layers.

    ``server`` is the live ``SparkPGServer``; its catalog epoch tells
    whether a runtime-catalog refresh followed DDL.
    """
    from spark_sql_server_spark import catalog, session
    from spark_sql_server_spark.protocol import encoders, messages
    from spark_sql_server_spark.protocol import server as srv

    install_spark(tracer, fetch_chunk=srv.FETCH_BATCH)

    for name in ("parse_startup", "parse_parse", "parse_bind", "parse_describe",
                 "parse_execute", "parse_close", "parse_query"):
        setattr(messages, name, tracer.wrap(f"protocol.messages:{name}", getattr(messages, name)))
    srv.decode_param = tracer.wrap("protocol.messages:decode_param", srv.decode_param)
    for name in ("split_statements", "classify_statement", "rewrite_sql"):
        setattr(srv, name, tracer.wrap(f"dialect:{name}", getattr(srv, name)))

    load_table = session.load_table

    @functools.wraps(load_table)
    def traced_load_table(spark, sf_dir, name):
        import os

        path = session.table_path(sf_dir, name)
        try:
            hit = (path, os.path.getmtime(path)) in session._SCHEMA_CACHE
        except OSError:
            hit = False
        tracer.add("session.load_table", 1)
        tracer.add("session.schema_cache_hit", 1 if hit else 0)
        return load_table(spark, sf_dir, name)

    session.load_table = tracer.wrap("session:load_table", traced_load_table)
    session.register_tables = tracer.wrap("session:register_tables", session.register_tables)

    catalog.init_pg_catalog = tracer.wrap("catalog:init_pg_catalog", catalog.init_pg_catalog)
    catalog.init_system_functions = tracer.wrap(
        "catalog:init_system_functions", catalog.init_system_functions)
    refresh = catalog.refresh_runtime_catalog
    last_epoch = [None]

    @functools.wraps(refresh)
    def traced_refresh(spark):
        epoch = server._catalog_epoch
        tracer.add("catalog.refresh_calls", 1)
        tracer.add("catalog.refresh_after_ddl", 1 if epoch != last_epoch[0] else 0)
        last_epoch[0] = epoch
        return refresh(spark)

    catalog.refresh_runtime_catalog = tracer.wrap("catalog:refresh_runtime_catalog", traced_refresh)

    R = encoders.RowSerializer
    R.serialize_arrow_table = tracer.wrap(
        "encoders:serialize_arrow_table", R.serialize_arrow_table, _count_encoded("arrow"))
    R.serialize_rows_batch = tracer.wrap(
        "encoders:serialize_rows_batch", R.serialize_rows_batch, _count_encoded("rows"))
    R.serialize_copy_text_batch = tracer.wrap(
        "encoders:serialize_copy_text_batch", R.serialize_copy_text_batch, _count_encoded("rows"))

    cls = type(server)
    handle_conn, startup, dispatch = cls._handle_conn, cls._startup, cls._dispatch
    traced_startup = tracer.wrap_async("protocol.server:startup", startup)
    traced_dispatch = tracer.wrap_async("protocol.server:dispatch", dispatch)

    @functools.wraps(handle_conn)
    async def conn_scope(self, reader, writer):
        _conn.set({"id": next(tracer._conns), "n": 0, "open": False})
        return await handle_conn(self, reader, writer)

    @functools.wraps(startup)
    async def startup_scope(self, reader, writer):
        c = _conn.get()
        _stmt.set((c["id"], 0))
        state = await traced_startup(self, reader, writer)
        if state is not None:
            tracer.conn_pid[c["id"]] = state.pid
            if state.init_task is not None:
                state.init_task = _InitWait(tracer, state.init_task)
        return state

    @functools.wraps(dispatch)
    async def dispatch_scope(self, state, tag, body, writer):
        # numbering runs whether or not spans are recorded, so it stays
        # aligned with the client's count across an untraced phase
        c = _conn.get()
        if not c["open"]:
            c["n"] += 1
            c["open"] = True
        token = _stmt.set((c["id"], c["n"]))
        try:
            return await traced_dispatch(self, state, tag, body, writer)
        finally:
            _stmt.reset(token)
            if tag in (b"Q", b"S"):
                c["open"] = False

    cls._handle_conn = conn_scope
    cls._startup = startup_scope
    cls._dispatch = dispatch_scope


# ---------------------------------------------------------------------- #
# analysis


def layer_of(name: str) -> str:
    return name.split(":", 1)[0]


def union_ns(intervals, lo: int | None = None, hi: int | None = None) -> int:
    """Length of the union of ``(start, end)`` intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def reparent_init(spans: list[tuple]) -> list[tuple]:
    """Hand a connection's deferred-init spans to the span that waited for
    them. The init task is created inside the handshake, so by context its
    spans hang off ``startup``; they run while the first statement waits in
    ``session:init_wait``, which is where their time belongs."""
    startup_conn = {s[0]: s[5][0] for s in spans
                    if s[1] == "protocol.server:startup" and s[5]}
    wait_of_conn = {}
    for s in spans:
        if s[1] == "session:init_wait" and s[5] and s[5][0] not in wait_of_conn:
            wait_of_conn[s[5][0]] = s[0]
    out = []
    for s in spans:
        conn = startup_conn.get(s[4])
        if conn is not None and conn in wait_of_conn and s[1] != "session:init_wait":
            s = (s[0], s[1], s[2], s[3], wait_of_conn[conn], s[5])
        out.append(s)
    return out


def self_times(spans: list[tuple]) -> dict[int, int]:
    """Self time of every span: duration minus what its children cover."""
    children: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for sid, _name, t0, t1, parent, _stmt_ in spans:
        if parent is not None:
            children[parent].append((t0, t1))
    return {
        sid: (t1 - t0) - union_ns(children.get(sid, ()), t0, t1)
        for sid, _name, t0, t1, _parent, _stmt_ in spans
    }


def layer_self_ns(spans: list[tuple]) -> dict[str, int]:
    own = self_times(spans)
    out: dict[str, int] = defaultdict(int)
    for s in spans:
        out[layer_of(s[1])] += own[s[0]]
    return dict(out)
