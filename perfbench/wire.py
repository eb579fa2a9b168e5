"""The three wire workloads: closed-loop clients on one asyncio loop.

Each workload has a ``plan`` step (seeded inputs and their expected results,
computed before the server starts) and an async ``drive`` step. ``drive``
runs one measuring window per entry of ``phases``; ``between(label)`` is
awaited before each window, which is where the traced run switches span
recording off or on. Every statement is checked; a mismatch or an error is
recorded in ``Recorder.failures``.
"""

from __future__ import annotations

import asyncio
import json
import os
import random
from dataclasses import dataclass, field

import oracle
from pgwire import INT8_OID, Connection, now_ns

HOST = "127.0.0.1"


@dataclass
class Stmt:
    """One measured statement as the client saw it."""

    kind: str
    phase: str
    pid: int
    n: int
    t_sent: int
    t_done: int
    resp: object = None

    @property
    def ms(self) -> float:
        return (self.t_done - self.t_sent) / 1e6


@dataclass
class Recorder:
    stmts: list[Stmt] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    #: free-form per-workload samples (session times, connect times, ...)
    samples: dict[str, list] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def add(self, key: str, value) -> None:
        self.samples.setdefault(key, []).append(value)

    def stmt(self, kind, phase, conn: Connection, resp, keep: bool = False) -> Stmt:
        s = Stmt(kind, phase, conn.pid, conn.statements, resp.t_sent, resp.t_done,
                 resp if keep else None)
        if phase:
            self.stmts.append(s)
        return s


def _err(resp) -> str:
    return f" ({resp.error})" if resp.error else ""


# ---------------------------------------------------------------------- #
# point_oltp


POINT_CLIENTS = 4
POINT_EXTENDED_SHARE = 0.8
POINT_PLAN_LEN = 5000
POINT_WARMUP = 6


def _balanced(rng: random.Random, values: list, n: int) -> list:
    """``n`` values drawn as shuffled blocks of ``values``, so every window of
    a run sees the same mix and only the order is seeded."""
    out: list = []
    while len(out) < n:
        block = list(values)
        rng.shuffle(block)
        out += block
    return out[:n]


def point_ops(seed: int, sizes: dict[str, int]) -> list[list[tuple[str, int, bool]]]:
    """Per client: (shape, key, extended protocol?). Keys are uniform; shapes
    come in shuffled blocks of the three, the protocol in shuffled blocks of
    five with one simple-protocol statement (POINT_EXTENDED_SHARE)."""
    rng = random.Random(seed)
    key_range = {"orders": sizes["orders"], "customer": sizes["customer"],
                 "lineitem": sizes["orders"]}
    per_block = round(1 / (1 - POINT_EXTENDED_SHARE))
    protocol_block = [True] * (per_block - 1) + [False]
    plans = []
    for _ in range(POINT_CLIENTS):
        shapes = _balanced(rng, sorted(oracle.LOOKUPS), POINT_PLAN_LEN)
        extended = _balanced(rng, protocol_block, POINT_PLAN_LEN)
        plans.append([(s, rng.randrange(key_range[s]), e) for s, e in zip(shapes, extended)])
    return plans


def plan_point(seed: int, sf_dir: str, sizes: dict[str, int], threads: int) -> dict:
    plans = point_ops(seed, sizes)
    shapes = sorted(oracle.LOOKUPS)
    con = oracle.connect(sf_dir, threads)
    expected = {
        shape: oracle.lookup_rows(con, shape, [k for p in plans for s, k, _ in p if s == shape])
        for shape in shapes
    }
    con.close()
    return {"plans": plans, "expected": expected}


async def drive_point(plan: dict, port: int, phases, between, rec: Recorder) -> None:
    conns = []
    for _ in range(POINT_CLIENTS):
        t0 = now_ns()
        conn, ready = await Connection.open(HOST, port)
        rec.add("connect_ready_ms", (ready.t_done - t0) / 1e6)
        for shape in sorted(oracle.LOOKUPS):
            r = await conn.prepare(shape, oracle.lookup_sql(shape, "$1"), [INT8_OID])
            rec.check(r.error is None, f"prepare {shape}{_err(r)}")
        rec.add("first_result_ms", (r.t_done - t0) / 1e6)
        conns.append(conn)

    async def one(conn, op, phase):
        shape, key, extended = op
        if extended:
            r = await conn.execute(shape, [str(key)])
        else:
            r = await conn.query(oracle.lookup_sql(shape, str(key)))
        kinds = oracle.LOOKUPS[shape][3]
        got = [oracle.normalize(row, kinds) for row in r.rows]
        rec.check(r.error is None and got == plan["expected"][shape][key],
                  f"lookup {shape} {key}{_err(r)}")
        rec.stmt(shape, phase, conn, r)

    cursor = [0] * POINT_CLIENTS

    async def client(i, phase, deadline):
        ops = plan["plans"][i]
        while now_ns() < deadline:
            await one(conns[i], ops[cursor[i] % len(ops)], phase)
            cursor[i] += 1

    for i, conn in enumerate(conns):  # warm-up, not timed
        for _ in range(POINT_WARMUP):
            await one(conn, plan["plans"][i][cursor[i]], "")
            cursor[i] += 1
    for label, seconds in phases:
        await between(label)
        deadline = now_ns() + int(seconds * 1e9)
        t0 = now_ns()
        await asyncio.gather(*(client(i, label, deadline) for i in range(POINT_CLIENTS)))
        rec.add("window", (label, t0, now_ns()))
    for conn in conns:
        await conn.close()


# ---------------------------------------------------------------------- #
# catalog_churn


CHURN_CLIENTS = 2
#: every DDL_EVERY-th session of a client runs DDL: a CTAS when the client
#: has no live CTAS table, else a DROP of it. The slots are fixed, not
#: seeded, so every window holds the same share of write-path sessions.
CHURN_DDL_EVERY = 4
CHURN_CTAS_ROWS = 50

_HERE = os.path.dirname(os.path.abspath(__file__))


def psql_replay() -> dict[str, list[str]]:
    with open(os.path.join(_HERE, "psql15_catalog.json")) as f:
        return json.load(f)


def plan_churn(seed: int, tables: dict[str, list[str]], sizes: dict[str, int]) -> dict:
    """Per client and session: (table for ``\\d``, DDL slot?, CTAS slice
    start). The seed orders the tables (shuffled blocks of all of them) and
    picks the slices; client c's DDL slots are sessions 2c+1,
    2c+1+DDL_EVERY, ... (session 0 is the warm-up)."""
    rng = random.Random(seed)
    sessions = [
        [(table, i % CHURN_DDL_EVERY == (2 * c + 1) % CHURN_DDL_EVERY,
          rng.randrange(sizes["orders"] - CHURN_CTAS_ROWS))
         for i, table in enumerate(_balanced(rng, sorted(tables), 2000))]
        for c in range(CHURN_CLIENTS)
    ]
    return {"sessions": sessions, "tables": tables, "seed": seed, "sql": psql_replay()}


class _Gate:
    """Keeps a runtime-catalog refresh from overlapping another session.

    The server rewrites the shared pg_catalog tables in place when a
    connection opens after DDL; a catalog query of another session that
    reads them meanwhile fails with FILE_NOT_EXIST (found by this benchmark,
    see README.md). So a session that runs DDL, or that opens while a
    refresh is pending, runs alone; read-only sessions run side by side."""

    def __init__(self):
        self.readers = 0
        self.writer = False
        self.refresh_pending = False
        self._cond = asyncio.Condition()

    async def enter(self, exclusive: bool) -> bool:
        async with self._cond:
            while True:
                exclusive = exclusive or self.refresh_pending
                if not self.writer and (not exclusive or self.readers == 0):
                    break
                await self._cond.wait()
            if exclusive:
                self.writer = True
                self.refresh_pending = False
            else:
                self.readers += 1
            return exclusive

    async def leave(self, exclusive: bool, ran_ddl: bool) -> None:
        async with self._cond:
            if exclusive:
                self.writer = False
            else:
                self.readers -= 1
            self.refresh_pending = self.refresh_pending or ran_ddl
            self._cond.notify_all()


class _Ddl:
    """When each CTAS table was created and dropped, as the clients saw it."""

    def __init__(self):
        self.tables: dict[str, dict[str, int]] = {}

    def expected(self, t_connect: int, t_listed: int) -> tuple[set, set]:
        """(must be listed, must not be listed) for a session that started
        connecting at ``t_connect`` and got its listing at ``t_listed``.
        DDL in flight meanwhile may go either way."""
        must, must_not = set(), set()
        for name, ev in self.tables.items():
            created = ev.get("create_done")
            if created is not None and created < t_connect and "drop_sent" not in ev:
                must.add(name)
            dropped = ev.get("drop_done")
            if (dropped is not None and dropped < t_connect) or ev["create_sent"] > t_listed:
                must_not.add(name)
        return must, must_not


async def drive_churn(plan: dict, port: int, phases, between, rec: Recorder) -> None:
    sql = plan["sql"]
    registered = set(plan["tables"])
    ddl = _Ddl()
    gate = _Gate()
    live: list[list[str]] = [[] for _ in range(CHURN_CLIENTS)]
    cursor = [0] * CHURN_CLIENTS

    async def catalog(conn, q, phase, name):
        r = await conn.query(q)
        rec.check(r.error is None, f"{name}{_err(r)}")
        if phase:
            rec.stmt(name, phase, conn, r)
        return r

    async def session(i, phase, ddl_allowed=True):
        table, ddl_slot, lo = plan["sessions"][i][cursor[i] % len(plan["sessions"][i])]
        cursor[i] += 1
        create = ddl_allowed and ddl_slot and not live[i]
        drop = ddl_allowed and ddl_slot and bool(live[i])
        exclusive = await gate.enter(create or drop)
        try:
            await session_body(i, phase, table, lo, create, drop)
        finally:
            await gate.leave(exclusive, create or drop)

    async def session_body(i, phase, table, lo, create, drop):
        t0 = now_ns()
        conn, ready = await Connection.open(HOST, port)
        r = await catalog(conn, sql["dt"][0], phase, "dt")
        listed = {row[1] for row in r.rows}
        must, must_not = ddl.expected(t0, r.t_done)
        rec.check(registered <= listed and must <= listed and not (must_not & listed),
                  f"\\dt listed {sorted(listed)}; missing {sorted((registered | must) - listed)},"
                  f" stale {sorted(must_not & listed)}")
        first_result = (r.t_done - t0) / 1e6
        await catalog(conn, sql["d"][0], phase, "d")
        r = await catalog(conn, sql["d_table"][0].replace("$TABLE", table), phase, "d_table")
        oid = r.rows[0][0] if r.rows else "0"
        for k, q in enumerate(sql["d_table"][1:]):
            r = await catalog(conn, q.replace("$OID", oid), phase, "d_table")
            if k == 1:  # the pg_attribute query: the table's columns, in order
                rec.check([row[0] for row in r.rows] == plan["tables"][table],
                          f"\\d {table} columns {[row[0] for row in r.rows]}")
        if create:
            name = f"perfbench_ctas_{plan['seed']}_{i}_{cursor[i]}"
            ev = ddl.tables[name] = {"create_sent": now_ns()}
            r = await catalog(conn, f"CREATE TABLE {name} USING parquet AS SELECT * FROM orders "
                              f"WHERE o_orderkey BETWEEN {lo} AND {lo + CHURN_CTAS_ROWS - 1}",
                              phase, "ddl")
            ev["create_done"] = now_ns()
            live[i].append(name)
        elif drop:
            name = live[i].pop(0)
            ev = ddl.tables[name]
            ev["drop_sent"] = now_ns()
            await catalog(conn, f"DROP TABLE {name}", phase, "ddl")
            ev["drop_done"] = now_ns()
        await conn.close()
        if phase:
            rec.add("session_ms", (now_ns() - t0) / 1e6)
            rec.add("first_result_ms", first_result)
            rec.add("connect_ready_ms", (ready.t_done - t0) / 1e6)

    async def client(i, phase, deadline):
        while now_ns() < deadline:
            await session(i, phase)

    # warm-up, not timed: one read-only session per client
    await asyncio.gather(*(session(i, "", ddl_allowed=False) for i in range(CHURN_CLIENTS)))
    for label, seconds in phases:
        await between(label)
        deadline = now_ns() + int(seconds * 1e9)
        t0 = now_ns()
        await asyncio.gather(*(client(i, label, deadline) for i in range(CHURN_CLIENTS)))
        rec.add("window", (label, t0, now_ns()))


# ---------------------------------------------------------------------- #
# bulk_stream


BULK_COPY_ROWS = 100_000
BULK_RANGE_ROWS = (10_000, 30_000)
_INCREMENTAL = "SET spark.sql.server.incrementalCollect.enabled = {}"
_COPYIN_DDL = "CREATE TABLE {} (id BIGINT, k INT, v DOUBLE, s STRING) USING parquet"
_WORDS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")


def copy_payload(rng: random.Random, n: int) -> tuple[bytes, int]:
    """``n`` COPY text rows with distinct ids; returns (payload, sum of ids)."""
    ids = rng.sample(range(10 * n), n)
    lines = [
        f"{i}\t{rng.randrange(1000)}\t{rng.randrange(100000) / 100}\t{rng.choice(_WORDS)}\n"
        for i in ids
    ]
    return "".join(lines).encode(), sum(ids)


def plan_bulk(seed: int, sizes: dict[str, int], lineitem_rows: int) -> dict:
    rng = random.Random(seed)
    payload, id_sum = copy_payload(rng, BULK_COPY_ROWS)
    warm_payload, warm_sum = copy_payload(rng, 1000)
    ranges = []
    for _ in range(64):
        w = rng.randrange(*BULK_RANGE_ROWS)
        lo = rng.randrange(sizes["orders"] - w)
        ranges.append((lo, lo + w - 1))
    return {"payload": payload, "id_sum": id_sum, "warm": (warm_payload, warm_sum),
            "ranges": ranges, "lineitem_rows": lineitem_rows, "seed": seed}


async def drive_bulk(plan: dict, port: int, phases, between, rec: Recorder) -> None:
    t0 = now_ns()
    conn, ready = await Connection.open(HOST, port)
    rec.add("connect_ready_ms", (ready.t_done - t0) / 1e6)
    n_li = plan["lineitem_rows"]
    table_no = [0]

    async def run(sql, kind, phase):
        r = await conn.query(sql, collect=kind in ("", "check"))
        rec.check(r.error is None, f"{kind or sql[:40]}{_err(r)}")
        if kind not in ("", "check"):
            rec.stmt(kind, phase, conn, r, keep=True)
        return r

    async def copy_in(payload, id_sum, n, phase):
        table_no[0] += 1
        name = f"perfbench_copyin_{plan['seed']}_{table_no[0]}"
        await run(_COPYIN_DDL.format(name), "", phase)
        r, send_ns, commit_ns = await conn.copy_in(f"COPY {name} FROM STDIN", payload)
        rec.check(r.error is None and r.tags[-1:] == [f"COPY {n}"],
                  f"COPY IN tags {r.tags}{_err(r)}")
        if phase:
            rec.stmt("copy_in", phase, conn, r, keep=True)
            rec.add("copy_in", (phase, send_ns / 1e6, commit_ns / 1e6, len(payload)))
        r = await run(f"SELECT count(*), sum(id) FROM {name}", "check", phase)
        rec.check(r.rows == [(str(n), str(id_sum))], f"COPY IN round trip {r.rows}")
        await run(f"DROP TABLE {name}", "", phase)

    async def cycle(phase, k):
        await run(_INCREMENTAL.format("true"), "", phase)
        inc = await run("SELECT * FROM lineitem", "scan.incremental", phase)
        await run(_INCREMENTAL.format("false"), "", phase)
        arrow = await run("SELECT * FROM lineitem", "scan.arrow", phase)
        rec.check(inc.nrows == n_li and arrow.nrows == n_li,
                  f"scan rows {inc.nrows}/{arrow.nrows} != {n_li}")
        rec.check(inc.row_crc == arrow.row_crc and inc.row_bytes == arrow.row_bytes,
                  "DataRow bytes differ between incremental and Arrow mode")
        lo, hi = plan["ranges"][k % len(plan["ranges"])]
        r = await run(f"SELECT * FROM orders WHERE o_orderkey BETWEEN {lo} AND {hi}",
                      "range", phase)
        rec.check(r.nrows == hi - lo + 1, f"range scan rows {r.nrows} != {hi - lo + 1}")
        r = await run("COPY (SELECT * FROM lineitem) TO STDOUT", "copy_out", phase)
        rec.check(r.nrows == n_li, f"COPY OUT rows {r.nrows} != {n_li}")
        await copy_in(plan["payload"], plan["id_sum"], BULK_COPY_ROWS, phase)

    # warm-up, not timed: every statement kind once, on small inputs
    for mode in ("true", "false"):
        await run(_INCREMENTAL.format(mode), "", "")
        r = await run("SELECT * FROM lineitem WHERE l_orderkey < 2000", "", "")
    await run("COPY (SELECT * FROM orders WHERE o_orderkey < 2000) TO STDOUT", "", "")
    await copy_in(*plan["warm"], 1000, "")
    k = 0
    for label, seconds in phases:
        await between(label)
        t0 = now_ns()
        t_end = t0 + int(seconds * 1e9)
        while True:  # as many whole cycles as fit, at least one
            a = now_ns()
            await cycle(label, k)
            k += 1
            if now_ns() + (now_ns() - a) > t_end:
                break
        rec.add("window", (label, t0, now_ns()))
    await conn.close()
